package graft.etl

import graft.SparkSuite
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  AttributeSet, ExprId, Expression, GetJsonObject, JsonToStructs, JsonTuple}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** V3 parity with the reference CLI (`README.md:35,38`) plus the full
  * end-to-end jobs: transform fixtures → NDJSON sinks → validate the
  * written directory → reference count tables. */
class ValidateSpec extends AnyFunSuite with AdaptiveSparkPlanHelper
    with SparkSuite {

  private def summaryMap(dir: String): Map[String, Long] =
    Validate.summary(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private val golden = graft.queries.FhirEtl.GoldenDir
  private val gtexGolden = graft.queries.FhirEtl.GtexGoldenDir

  test("V3 on the golden 1KG META dir reproduces README.md:35") {
    Goldens.assumePresent(golden)
    assert(summaryMap(golden) == Map(
      "DocumentReference" -> 48L, "Specimen" -> 3500L,
      "ResearchStudy" -> 1L, "ResearchSubject" -> 3500L,
      "Group" -> 1L, "Patient" -> 3500L))
  }

  test("V3 on the golden GTEx META dir reproduces README.md:38 (minus elided Specimen)") {
    Goldens.assumePresent(gtexGolden)
    assert(summaryMap(gtexGolden) == Map(
      "DocumentReference" -> 49L, "ResearchStudy" -> 1L,
      "ResearchSubject" -> 980L, "Group" -> 1L, "Patient" -> 980L))
  }

  test("end-to-end 1KG job: sinks + validate + golden-file equality") {
    Goldens.assumePresent(golden)
    val out = Files.createTempDirectory("onekg-e2e").toString
    OneKg.runAll(spark, graft.queries.FhirEtl.FixtureDir, out)
    assert(summaryMap(out) == Map(
      "DocumentReference" -> 48L, "Specimen" -> 3500L,
      "ResearchStudy" -> 1L, "ResearchSubject" -> 3500L,
      "Group" -> 1L, "Patient" -> 3500L))
    assert(Validate.errors(spark, out).count() == 0)
    // the written Patient file equals the golden per-id (sink path check)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.configure(com.fasterxml.jackson.databind.SerializationFeature
      .ORDER_MAP_ENTRIES_BY_KEYS, true)
    def canonFile(p: String) = scala.io.Source.fromFile(p).getLines()
      .filter(_.trim.nonEmpty)
      .map(l => mapper.writeValueAsString(
        mapper.treeToValue(mapper.readTree(l), classOf[Object])))
      .toSeq.sorted
    assert(canonFile(s"$out/Patient.ndjson") ==
      canonFile(s"$golden/Patient.ndjson"))
  }

  test("end-to-end GTEx job: sinks + validate counts") {
    val out = Files.createTempDirectory("gtex-e2e").toString
    Gtex.runAll(spark, graft.queries.FhirEtl.FixtureDir, out)
    assert(summaryMap(out) == Map(
      "DocumentReference" -> 49L, "Specimen" -> 5L,
      "ResearchStudy" -> 1L, "ResearchSubject" -> 980L,
      "Group" -> 1L, "Patient" -> 980L))
    assert(Validate.errors(spark, out).count() == 0)
  }

  test("V1 quarantine: malformed lines and rule violations reported") {
    val dir = Files.createTempDirectory("validate-bad").toString
    Files.write(Paths.get(dir, "Patient.ndjson"),
      ("""{"resourceType":"Patient","id":"fb96f2a9-8ec2-5784-ba62-16f168155434","identifier":[{"value":"ok"}]}""" + "\n" +
        "not json\n" +
        """{"resourceType":"Specimen","id":"fb96f2a9-8ec2-5784-ba62-16f168155434","identifier":[{"value":"x"}]}""" + "\n" +
        """{"resourceType":"Patient","id":"not-a-uuid","identifier":[{"value":"x"}]}""" + "\n").getBytes)
    Files.write(Paths.get(dir, "ResearchSubject.ndjson"),
      ("""{"resourceType":"ResearchSubject","id":"fb96f2a9-8ec2-5784-ba62-16f168155434","identifier":[{"value":"x"}],"status":"bogus"}""" + "\n").getBytes)
    assert(summaryMap(dir) == Map("Patient" -> 1L))
    val errs = Validate.errors(spark, dir).collect()
      .map(r => r.getString(1)).toSeq
    assert(errs.exists(_.contains("malformed")))
    assert(errs.exists(_.contains("resourceType mismatch")))
    assert(errs.exists(_.contains("not a valid uuid")))
    assert(errs.exists(_.contains("status out of domain")))
  }

  test("empty directory: validateDir fails naming the directory") {
    val dir = Files.createTempDirectory("validate-empty").toString
    Files.write(Paths.get(dir, "notes.txt"), "not ndjson\n".getBytes)
    val e = intercept[IllegalArgumentException](Validate.validateDir(spark, dir))
    assert(e.getMessage.contains(dir), e.getMessage)
  }

  /** (full-line JSON parses, scans) in df's optimized plan. A parse is
    * full-line when its JSON input traces back, through aliases, to a
    * scan's output column; parses of a field the line parse produced
    * (the `identifier` substring) do not count. */
  private def lineParses(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.optimizedPlan
    val scans = plan.collect { case r: LogicalRelation => r }
    val raw = AttributeSet(scans.flatMap(_.output))
    val aliases: Map[ExprId, Expression] = plan.flatMap(_.expressions)
      .flatMap(_.collect { case a: Alias => a.exprId -> a.child }).toMap
    def source(e: Expression): Expression = e match {
      case a: AttributeReference if aliases.contains(a.exprId) =>
        source(aliases(a.exprId))
      case other => other
    }
    val parses = plan.flatMap(_.expressions).flatMap(_.collect {
      case p @ (_: JsonToStructs | _: JsonTuple | _: GetJsonObject) => p
    }).filter(p => source(p.children.head) match {
      case a: AttributeReference => raw.contains(a)
      case _ => false
    })
    (parses.size, scans.size)
  }

  private val planLine = """{"resourceType":"Patient","id":"fb96f2a9-8ec2-5784-ba62-16f168155434","identifier":[{"value":"ok"}]}"""

  /** Patient.ndjson, Specimen.ndjson and ResearchSubject.ndjson, each
    * holding one Patient line. */
  private def planDir(): String = {
    val dir = Files.createTempDirectory("validate-plan").toString
    Seq("Patient", "Specimen", "ResearchSubject").foreach(t =>
      Files.write(Paths.get(dir, s"$t.ndjson"), (planLine + "\n").getBytes))
    dir
  }

  private def assertOneParsePerScan(name: String, df: DataFrame): Unit = {
    val (parses, scans) = lineParses(df)
    assert(scans >= 1, s"$name: no scan in the optimized plan")
    assert(parses == scans, s"$name: $parses full-line JSON parses over " +
      s"$scans scans:\n${df.queryExecution.optimizedPlan}")
  }

  test("plan pin: summary, errors and profile parse each line once per scan") {
    val dir = planDir()
    assertOneParsePerScan("summary", Validate.summary(spark, dir))
    assertOneParsePerScan("errors", Validate.errors(spark, dir))
    assertOneParsePerScan("profile", Validate.profile(spark, dir))
  }

  test("report: one scan, one line parse, counts and invalid lines per file") {
    val dir = planDir()
    Files.write(Paths.get(dir, "Specimen.ndjson"), "oops\n\nnope\n".getBytes,
      java.nio.file.StandardOpenOption.APPEND)
    val df = Validate.report(spark, dir)
    assertOneParsePerScan("report", df)
    val got = df.collect().map(r => r.getAs[String]("file") -> (
      r.getAs[Long]("n_valid"),
      r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("invalid"))
        .map(_.getAs[String]("line")))).toMap
    assert(got == Map(
      "Patient.ndjson" -> (1L, Nil),
      "ResearchSubject.ndjson" -> (0L, Seq(planLine.take(80))),
      "Specimen.ndjson" -> (0L, Seq(planLine.take(80), "oops", "nope"))))
  }

  test("summary and profile: ordered by type with no range exchange") {
    val dir = planDir()
    Seq("Observation", "Group", "DocumentReference").foreach(t =>
      Files.write(Paths.get(dir, s"$t.ndjson"),
        (planLine.replace("Patient", t) + "\n").getBytes))
    for ((name, df) <- Seq("summary" -> Validate.summary(spark, dir),
                           "profile" -> Validate.profile(spark, dir))) {
      val types = df.collect().map(_.getString(0)).toSeq
      assert(types == Seq("DocumentReference", "Group", "Observation", "Patient"),
        s"$name row order")
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) {
        case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }.isEmpty, s"$name: range exchange:\n$plan")
      assert(collect(plan) { case s: SortExec if s.global => s }.isEmpty,
        s"$name: global sort:\n$plan")
    }
  }
}
