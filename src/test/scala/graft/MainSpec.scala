package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** CLI entry-point parity with the reference's command surface
  * (`fhir_etl/cli.py:12-65`): `transform -p {1kgenomes,gtex}` runs the
  * full ETL into the out dir; `validate --path` prints counts + error
  * rows and exits 1 on any invalid line, 2 on a bad path — driven
  * end-to-end on fixtures through [[Main.run]]. */
class MainSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("transform -p 1kgenomes writes the full META dir; validate exits 0 on it") {
    val out = Files.createTempDirectory("cli-1kg").toString
    assert(Main.run(spark, Array("transform", "-p", "1kgenomes",
      "--fixtures", "/root/repo/fixtures", "--out", out)) == 0)
    val written = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.endsWith(".ndjson")).sorted.toSeq
    assert(written == Seq("DocumentReference.ndjson", "Group.ndjson",
      "Patient.ndjson", "ResearchStudy.ndjson", "ResearchSubject.ndjson",
      "Specimen.ndjson"))
    assert(Main.run(spark, Array("validate", "--path", out)) == 0)
  }

  test("transform -p gtex end-to-end; validate exits 0 on it") {
    val out = Files.createTempDirectory("cli-gtex").toString
    assert(Main.run(spark, Array("transform", "-p", "gtex",
      "--fixtures", "/root/repo/fixtures", "--out", out)) == 0)
    assert(Main.run(spark, Array("validate", "--path", out)) == 0)
  }

  test("validate exits 1 when any line is invalid — cli.py:44") {
    val dir = Files.createTempDirectory("cli-bad").toString
    Files.write(Paths.get(dir, "Patient.ndjson"),
      ("""{"resourceType":"Patient","id":"fb96f2a9-8ec2-5784-ba62-16f168155434","identifier":[{"value":"ok"}]}""" + "\n" +
        "not json\n").getBytes)
    assert(Main.run(spark, Array("validate", "--path", dir)) == 1)
  }

  test("validate on a non-directory path is an error (ValueError analogue)") {
    assert(Main.run(spark, Array("validate", "--path", "/no/such/dir")) == 2)
  }

  test("bad invocations exit 2 with usage") {
    assert(Main.run(spark, Array.empty[String]) == 2)
    assert(Main.run(spark, Array("frobnicate")) == 2)
    assert(Main.run(spark, Array("transform")) == 2)
    assert(Main.run(spark, Array("transform", "-p", "nope")) == 2)
    assert(Main.run(spark, Array("validate")) == 2)
  }

  /** Run `Main.run` and return (exit code, lines it printed to stderr). */
  private def runCapturingErr(args: String*): (Int, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val code = try Main.run(spark, args.toArray) finally System.setErr(saved)
    (code, buf.toString("UTF-8").linesIterator.toSeq)
  }

  test("validate on a directory without *.ndjson files exits 2 naming the path") {
    val dir = Files.createTempDirectory("cli-empty").toString
    Files.write(Paths.get(dir, "README.txt"), "no ndjson here\n".getBytes)
    Seq(Seq.empty[String], Seq("--debug")).foreach { extra =>
      val (code, err) = runCapturingErr(Seq("validate", "--path", dir) ++ extra: _*)
      assert(code == 2)
      assert(err.exists(_.contains(dir)), err)
    }
  }

  test("validate report format: the count line, then one row per invalid " +
    "line, grouped by file name, in line order within a file") {
    val dir = Files.createTempDirectory("cli-report").toString
    val id = "fb96f2a9-8ec2-5784-ba62-16f168155434"
    val longBad = s"""{"resourceType":"ResearchSubject","id":"$id","identifier":[{"value":"x"}],"status":"bogus"}"""
    val mismatch = s"""{"resourceType":"Patient","id":"$id","identifier":[{"value":"x"}]}"""
    Files.write(Paths.get(dir, "ResearchSubject.ndjson"),
      s"$longBad\n$mismatch\n".getBytes)
    Files.write(Paths.get(dir, "Patient.ndjson"),
      (s"""{"resourceType":"Patient","id":"$id","identifier":[{"value":"ok"}]}""" + "\n" +
        "not json\n" +
        """{"resourceType":"Patient","id":"not-a-uuid","identifier":[{"value":"x"}]}""" + "\n" +
        "\n[1,2]\n").getBytes)
    val (code, err) = runCapturingErr("validate", "--path", dir)
    assert(code == 1)
    assert(err == Seq(
      "{Patient: 1}",
      "Patient.ndjson: malformed JSON or missing resourceType not json",
      "Patient.ndjson: id is not a valid uuid " +
        """{"resourceType":"Patient","id":"not-a-uuid","identifier":[{"value":"x"}]}""",
      "Patient.ndjson: malformed JSON or missing resourceType [1,2]",
      "ResearchSubject.ndjson: status out of domain: bogus " + longBad.take(80),
      "ResearchSubject.ndjson: resourceType mismatch: expected ResearchSubject, " +
        "got Patient " + mismatch.take(80)))
  }
}
