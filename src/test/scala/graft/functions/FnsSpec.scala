package graft.functions

import graft.SparkSuite
import graft.ids.IdMinter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Table-driven tests for the scalar function library (F1–F4, F7, F8,
  * F14) against reference behavior, plus the codegen-native uuid5
  * column vs both the JVM implementation and golden ids. */
class FnsSpec extends AnyFunSuite with SparkSuite {

  private def eval1(in: Seq[String], c: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[String] = {
    import spark.implicits._
    in.toDF("x").select(c($"x").as("y")).collect().toSeq.map(r =>
      if (r.isNullAt(0)) null else r.getString(0))
  }

  test("F1 dataFormat: pop gz/tbi/csi then uppercase last extension") {
    val cases = Seq(
      "x.vcf.gz" -> "VCF", "x.vcf" -> "VCF", "header" -> "UNKNOWN",
      "x.gz" -> "UNKNOWN", "a.b.gz.c" -> "C", "x.tbi.GZ" -> "UNKNOWN",
      "f.vcf.gz.new" -> "NEW", "f.vcf.gz.new.tbi" -> "NEW",
      "a.CSI" -> "UNKNOWN", "gz.vcf" -> "VCF")
    assert(eval1(cases.map(_._1), Fns.dataFormat) == cases.map(_._2))
  }

  test("F2 chromosome: \\bchr([0-9XYMT]+)\\b case-insensitive, else null") {
    val cases = Seq(
      "ALL.chr1.phase3.vcf.gz" -> "1", "all.CHRX.x" -> "X",
      "x.chrMT.y" -> "MT", "nochrom.vcf" -> null, "chr22" -> "22",
      "anchored.chr9" -> "9", "notchr1x" -> null)
    assert(eval1(cases.map(_._1), Fns.chromosome) == cases.map(_._2))
  }

  test("F3 parseMdtm: '213 yyyyMMddHHmmss' → ISO; fallback injectable") {
    assert(eval1(Seq("213 20220509124500"), Fns.parseMdtm(_)) ==
      Seq("2022-05-09T12:45:00"))
    assert(eval1(Seq("garbage"), Fns.parseMdtm(_, lit("F"))) == Seq("F"))
    assert(eval1(Seq("garbage"), Fns.parseMdtm(_)) == Seq(null))
  }

  test("F4 mimeType: text/vcf custom type, encoding-suffix strip, octet default") {
    val cases = Seq(
      "x.vcf" -> "text/vcf", "x.vcf.gz" -> "text/vcf",
      "x.vcf.gz.tbi" -> "application/octet-stream",
      "x.vcf.gz.new" -> "application/octet-stream",
      "readme.txt" -> "text/plain", "noext" -> "application/octet-stream",
      "x.gz" -> "application/octet-stream")
    assert(eval1(cases.map(_._1), Fns.mimeType(_)) == cases.map(_._2))
    // GTEx default + golden-pinned types (gtex_fhirizer.py:281)
    val gtex = Seq("x.tar.gz" -> "application/x-tar", "a.gct.gz" -> "Unknown",
      "b.xlsx" -> "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
      "c.zip" -> "application/x-zip-compressed", "d.parquet" -> "Unknown")
    assert(eval1(gtex.map(_._1), Fns.mimeType(_, default = "Unknown")) ==
      gtex.map(_._2))
  }

  test("F7 sampidKey: last two dash segments") {
    val cases = Seq("GTEX-1117F-0003-SM-4JBJ3" -> "SM-4JBJ3",
      "A-B" -> "A-B", "SOLO" -> "SOLO")
    assert(eval1(cases.map(_._1), Fns.sampidKey) == cases.map(_._2))
  }

  test("F8 birthYearRange: '60-69' → '1956 - 1965' (year 2025)") {
    assert(eval1(Seq("60-69", "20-29"), Fns.birthYearRange(_)) ==
      Seq("1956 - 1965", "1996 - 2005"))
  }

  test("F14 withUtcOffset") {
    assert(eval1(Seq("2014-09-12T14:21:07"), Fns.withUtcOffset) ==
      Seq("2014-09-12T14:21:07+00:00"))
  }

  // Widening table per round-2 verdict: the fixtures are inverse-
  // constructed from the goldens, so a hypothetical self-inverse bug in
  // both tools would be invisible to golden parity — these direct
  // input/output pins are the mitigation.
  test("F1/F2/F4/F7/F8 edge-case widening") {
    val f1 = Seq("X.VCF" -> "VCF", "a..vcf" -> "VCF", ".hidden" -> "HIDDEN",
      "x.tbi" -> "UNKNOWN", "x.csi.gz" -> "UNKNOWN", "" -> "UNKNOWN")
    assert(eval1(f1.map(_._1), Fns.dataFormat) == f1.map(_._2))
    val f2 = Seq("a.chr10.chr2.b" -> "10", "chrx lower.y" -> "X",
      "CHRchr.z" -> null, "x_chr21_y" -> null /* _ is a word char: no \b */,
      "x.chr21.y" -> "21", "" -> null)
    assert(eval1(f2.map(_._1), Fns.chromosome) == f2.map(_._2))
    val f4 = Seq("X.VCF" -> "text/vcf", "a.TXT" -> "text/plain",
      "a.txt.gz" -> "text/plain", "a.gz.txt" -> "text/plain")
    assert(eval1(f4.map(_._1), Fns.mimeType(_)) == f4.map(_._2))
    val f7 = Seq("" -> "", "A-B-C" -> "B-C", "--" -> "-",
      "GTEX-1117F-0003-SM-5DWSB-extra" -> "SM-5DWSB-extra".split("-")
        .takeRight(2).mkString("-"))
    assert(eval1(f7.map(_._1), Fns.sampidKey) == f7.map(_._2))
    val f8 = Seq("50-59" -> "1966 - 1975", "70-79" -> "1946 - 1955")
    assert(eval1(f8.map(_._1), Fns.birthYearRange(_)) == f8.map(_._2))
  }

  test("F5 minting golden pins: first line of EVERY reference META type") {
    // ids copied from /root/reference/fhir_etl/{oneKgenomes,GTEx}/META/
    // <Type>.ndjson line 1 — one pin per resource type per pipeline, so
    // a drift in any minting chain (system string, frozen quirk, uuid5
    // surgery) fails here before the golden-tree specs localize it
    import graft.etl.{Gtex, OneKg}
    val m = IdMinter.oneKg
    assert(OneKg.StudyId == "4502d1f5-5275-5be7-9942-21f7fb8a6f70")
    assert(OneKg.GroupId == "43140b49-1fa8-522e-85d3-1724b1ac2898")
    assert(m.mintIdentifier("ResearchSubject", OneKg.MintSystem, "HG00096") ==
      "f38d36dd-c381-5ba2-b543-29d0158e0109")
    assert(m.mintIdentifier("Specimen", OneKg.MintSystem, "HG00096") ==
      "9fc4db7b-3e52-5ada-ae23-38823c0175ee")
    assert(m.mintIdentifier("DocumentReference", OneKg.FtpDirectory,
      "ALL.chr1.phase3_shapeit2_mvncall_integrated_v5_extra_anno" +
        ".20130502.genotypes.vcf.gz") ==
      "ab70079e-b395-5de6-817d-f5a26e7f2cfe")
    val g = IdMinter.gtex
    assert(Gtex.StudyId == "262baf63-be05-5a41-8a2d-6c73346032c2")
    assert(g.mintIdentifier("ResearchSubject", Gtex.MetaSystem, "GTEX-1117F") ==
      "1b272f0c-b99d-5361-a45b-f56d21bac063")
    assert(g.mintIdentifier("DocumentReference", Gtex.MetaSystem,
      "GTEx_Analysis_v8_Annotations_SampleAttributesDD.xlsx") ==
      "86359ce2-a677-521d-8ba9-12c64c887483")
  }

  test("GTEx minter golden pins (q2a/q2b literal table cross-check)") {
    // the same values literal-pinned in the q2a/q2b oracles — if the
    // minting chain drifts, this fails before the driver gate does
    val m = IdMinter.gtex
    val meta = "https://gtexportal.org/home/downloads/adult-gtex/metadata"
    assert(m.mintIdentifier("Specimen", meta, "SM-0001") ==
      "ce838dc2-5204-5d5e-a3b9-78410577b165")
    assert(m.mintIdentifier("Patient", meta, "GTEX-1117F") ==
      "491ad1a2-faea-5858-9887-625d94bd6b8c")
    assert(m.mintIdentifier("Group", meta, "GTEX_V10") ==
      "e15af919-ded6-510a-a538-1449bfb57fc4")
  }

  test("uuid5Col (codegen, sha1 + hex surgery) == JVM IdMinter == goldens") {
    import spark.implicits._
    val m = IdMinter.oneKg
    val system = "https://" + IdMinter.ThousandGenomesSite +
      "technical/working/20130606_sample_info/"
    val samples = Seq("HG00096", "HG00097", "NA21144", "weird/|chars",
      "ünïcødé-✓", "")
    val got = samples.toDF("s")
      .select(m.mintIdentifierCol("Patient", system, $"s").as("u"))
      .collect().toSeq.map(_.getString(0))
    val want = samples.map(s => m.mintIdentifier("Patient", system, s))
    assert(got == want)
    // golden pins (reference META/Patient.ndjson lines 1-2)
    assert(got.head == "fb96f2a9-8ec2-5784-ba62-16f168155434")
    assert(got(1) == "ebea3aa4-1fe4-5956-8aab-6aba9db22321")
    // version/variant nibbles per RFC-4122 §4.3
    got.foreach { u =>
      assert(u.charAt(14) == '5' && "89ab".contains(u.charAt(19)))
    }
  }
}
