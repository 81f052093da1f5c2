package graft

import org.apache.spark.sql.{Row, SparkSession}

/** Command-line entry point — the engine's equivalent of the
  * reference's only UX surface (`fhir_etl/cli.py:12-65`):
  *
  * {{{
  * graft.Main transform -p {1kgenomes|gtex} [--fixtures DIR] [--out DIR]
  * graft.Main validate --path DIR [-d|--debug]
  * }}}
  *
  * `transform` maps to the full ETL pipelines ([[graft.etl.OneKg.runAll]]
  * / [[graft.etl.Gtex.runAll]] — the engine's `transform_1k` +
  * `transform_1k_files` / `transform_gtex`), writing per-type FHIR
  * NDJSON under `--out` (default `META/<project>`, mirroring the
  * reference's `fhir_etl/<proj>/META` layout, created if absent like
  * `cli.py:57-58`).
  *
  * `validate` maps to [[graft.etl.Validate]]: prints the per-type valid
  * counts to stderr (the reference prints `result.resources`), then one
  * `file: reason line` row per invalid line (its
  * `path:offset exception json` loop), and EXITS 1 when any exception
  * row exists (`cli.py:44 sys.exit(1)`). A non-directory `--path` is an
  * error (its `ValueError`): reported on stderr, exit 2; so is a
  * directory without `*.ndjson` files. Counts and invalid lines come from
  * one aggregation ([[graft.etl.Validate.report]]); invalid lines print
  * grouped by file name, in line order within a file.
  *
  * The argument surface is parsed by hand (zero-dependency contract —
  * no click analogue on the classpath) and factored as [[Main.run]]
  * returning the exit code so MainSpec can drive both subcommands
  * end-to-end without forking a JVM. */
object Main {

  final case class Usage(msg: String) extends Exception(msg)

  private def parseFlags(args: Seq[String]): (Map[String, String], Set[String]) = {
    // flags with values: --key value (or -k value); boolean flags: listed
    val boolFlags = Set("-d", "--debug", "-v", "--verbose")
    var kv = Map.empty[String, String]
    var flags = Set.empty[String]
    var rest = args.toList
    while (rest.nonEmpty) {
      rest match {
        case f :: tail if boolFlags(f) => flags += f; rest = tail
        case k :: v :: tail if k.startsWith("-") => kv += k -> v; rest = tail
        case bad :: _ => throw Usage(s"unexpected argument: $bad")
      }
    }
    (kv, flags)
  }

  private def opt(kv: Map[String, String], keys: String*): Option[String] =
    keys.flatMap(kv.get).headOption

  /** Run one CLI invocation against a caller-provided session; returns
    * the process exit code. stderr carries the human-facing report, as
    * in the reference. */
  def run(spark: SparkSession, args: Array[String]): Int =
    try {
      args.toList match {
        case "transform" :: rest =>
          val (kv, _) = parseFlags(rest)
          val project = opt(kv, "-p", "--project").getOrElse(
            throw Usage("transform requires -p {1kgenomes|gtex}"))
          val fixtures = opt(kv, "--fixtures")
            .getOrElse(graft.queries.FhirEtl.FixtureDir)
          val out = opt(kv, "--out").getOrElse(s"META/$project")
          new java.io.File(out).mkdirs() // cli.py:57-58 makedirs
          project match {
            case "1kgenomes" => graft.etl.OneKg.runAll(spark, fixtures, out)
            case "gtex" => graft.etl.Gtex.runAll(spark, fixtures, out)
            case p => throw Usage(s"unknown project '$p' " +
              "(expected 1kgenomes or gtex)") // cli.py:53 assert
          }
          System.err.println(s"[transform] $project -> $out")
          0
        case "validate" :: rest =>
          val (kv, flags) = parseFlags(rest)
          val debug = flags("-d") || flags("--debug")
          val path = opt(kv, "-p", "--path").getOrElse(
            throw Usage("validate requires --path DIR"))
          if (!new java.io.File(path).isDirectory) {
            // the reference raises ValueError for a non-directory path
            System.err.println(s"Path: '$path' is not a valid directory.")
            2
          } else if (graft.etl.Validate.ndjsonFiles(path).isEmpty) {
            System.err.println(s"Path: '$path' holds no *.ndjson files.")
            2
          } else try {
            // counts and invalid lines from one aggregation, one row per file
            val files = graft.etl.Validate.report(spark, path).collect()
              .sortBy(_.getAs[String]("file"))
            // result.resources analogue: {type: n_valid} counts
            val counts = files.filter(_.getAs[Long]("n_valid") > 0)
              .sortBy(_.getAs[String]("resource_type"))
            System.err.println(counts.map(r => s"${r.getAs[String]("resource_type")}: " +
              r.getAs[Long]("n_valid")).mkString("{", ", ", "}"))
            // the per-exception loop: file + reason + offending line
            val errs = files.flatMap(r => r.getSeq[Row](r.fieldIndex("invalid"))
              .map(e => s"${r.getAs[String]("file")}: ${e.getAs[String]("reason")} " +
                e.getAs[String]("line")))
            errs.foreach(System.err.println)
            if (errs.nonEmpty) 1 else 0 // cli.py:44
          } catch {
            case e: Exception if !debug =>
              System.err.println(e.toString) // cli.py:46 secho(str(e))
              0 // the reference swallows non-debug validate errors
          }
        case cmd :: _ => throw Usage(s"unknown command '$cmd' " +
          "(expected transform or validate)")
        case Nil => throw Usage(
          "usage: transform -p {1kgenomes|gtex} | validate --path DIR")
      }
    } catch {
      case Usage(msg) => System.err.println(msg); 2
    }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = run(spark, args)
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}
