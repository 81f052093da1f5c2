package perfbench

import graft.etl.{Gtex, OneKg, Validate}
import graft.sinks.Ndjson
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

/** Input sizes of the FHIR workload. */
object FhirSizes {
  val OneKgSamples = 6000
  val GtexSubjects = 120
  val GtexShared = 3000
}

/** fhir_etl: the paper's job, then its sink used as read-modify-write.
  * Each iteration runs `transform -p 1kgenomes` and `-p gtex` into fresh
  * directories, applies seeded delta batches to the 1000 Genomes Patient
  * and Specimen files through `Ndjson.createOrExtend` (the reference's
  * `create_or_extend`), alternating `updateExisting`, and ends with
  * `validate --debug` on both directories. */
final class FhirEtl extends Workload {
  val Batches = 2
  private val Upserted = Seq("Patient", "Specimen")
  private var iter = 0
  private var root: Path = _
  private var in: Path = _
  private var oneKgExpect: Expect = _
  private var gtexExpect: Expect = _
  private var deltas: Seq[Path] = Nil
  private var upsertExpect: Map[String, (TypeExpect, Seq[Long])] = Map.empty
  private var deltaBytes = 0L
  private var rewritten = 0L

  private def out(p: String): Path = root.resolve(s"out/$p-$iter")
  private def update(b: Int): Boolean = b % 2 == 0
  private def sentinel(b: Int): String = s"SENTINEL$b"

  /** A `graft.Main` CLI call; a non-zero exit code fails the operation. */
  private def cli(ctx: Ctx, name: String, args: String*): (String, Double) =
    name -> ctx.op(name) {
      ctx.spans(s"cli.${name.replace(' ', '_')}") {
        val code = graft.Main.run(ctx.spark, args.toArray)
        require(code == 0, s"graft.Main ${args.mkString(" ")} exited $code")
      }
    }

  private def validateCli(ctx: Ctx, project: String): (String, Double) =
    cli(ctx, s"validate $project", "validate", "--path", out(project).toString, "--debug")

  /** Per-type valid counts reported by `Validate.summary` must equal the
    * oracle's line counts. */
  private def checkSummary(ctx: Ctx, label: String, dir: Path,
      want: Map[String, Long]): Unit = {
    val got = Validate.summary(ctx.spark, dir.toString).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ctx.check(s"$label/validate summary", got == want, s"got $got want $want")
  }

  /** Validate layer: summary and per-line errors timed one at a time. */
  private def validateLayer(ctx: Ctx, dirs: Seq[Path]): Unit = {
    var lines = 0L
    val summaryS = dirs.map(d => Util.time(ctx.spans("validate.summary") {
      lines += Validate.summary(ctx.spark, d.toString).collect().map(_.getLong(1)).sum
    })).sum
    val errorsS = dirs.map(d => Util.time(ctx.spans("validate.errors") {
      ctx.check("validate errors empty",
        Validate.errors(ctx.spark, d.toString).collect().isEmpty)
    })).sum
    ctx.put("validate.summary_s", summaryS, "s")
    ctx.put("validate.errors_s", errorsS, "s")
    ctx.put("validate.lines_per_s", lines / (summaryS + errorsS), "1/s")
  }

  /** Materialize each frame's JSON without a sink: seconds and bytes. */
  private def fhirLayer(ctx: Ctx, frames: Seq[(String, DataFrame)]): Unit = {
    var bytes = 0L
    val s = frames.map { case (t, df) => Util.time(ctx.spans(s"fhir.$t") {
      bytes += df.toJSON.agg(sum(length(col("value")) + 1)).head.getLong(0)
    }) }.sum
    ctx.put("fhir.build_s", s, "s")
    ctx.put("fhir.json_bytes", bytes.toDouble, "bytes")
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    root = ctx.root
    in = ctx.dir("inputs")
    val n = FhirSizes.OneKgSamples
    oneKgExpect = FhirInputs.oneKg(in, ctx.seed, n)
    gtexExpect = FhirInputs.gtex(in, ctx.seed, FhirSizes.GtexSubjects,
      FhirSizes.GtexShared)

    // delta batches, each 5% of the base: half re-sent existing ids with
    // a sentinel change, half new ids, ~1% in-batch duplicates
    val rng = new Random(ctx.seed * 31 + 3)
    val existing = (0 until n).map(i => f"BX$i%07d")
    val m = n / 20
    val state = scala.collection.mutable.HashMap.empty[String, Int]
    existing.foreach(state(_) = -1)
    deltas = (0 until Batches).map { b =>
      val resent = rng.shuffle(existing).take(m / 2)
      val fresh = (0 until m - m / 2).map(i => f"UP$b-$i%07d")
      val rows = rng.shuffle(resent ++ fresh).map(s =>
        FhirInputs.oneKgRow(rng, s).copy(pop = sentinel(b), dnaSource = sentinel(b)))
      val dups = (0 until m / 100).map(_ => rows(rng.nextInt(rows.size)))
      val p = in.resolve(s"delta_$b.tsv")
      FhirInputs.writeTsv(p, FhirInputs.OneKgColumns, (rows ++ dups).iterator.map(_.tsv))
      for (r <- rows if !state.contains(r.sample) || update(b)) state(r.sample) = b
      p
    }
    upsertExpect = Upserted.map { t =>
      val ids = state.keys.map(OneKg.minter.mintIdentifier(t, OneKg.MintSystem, _))
      t -> (Expect.of(ids), (0 until Batches).map(b => state.values.count(_ == b).toLong))
    }.toMap
  }

  private def delta(ctx: Ctx, b: Int, t: String): DataFrame = {
    val si = OneKg.readSampleInfo(ctx.spark, deltas(b).toString)
    if (t == "Patient") OneKg.patients(si) else OneKg.specimens(si)
  }

  override def prime(ctx: Ctx): Unit = {
    deltaBytes = (for (b <- 0 until Batches; t <- Upserted) yield
      delta(ctx, b, t).toJSON.agg(sum(length(col("value")) + 1)).head.getLong(0)).sum
    super.prime(ctx)
  }

  def iteration(ctx: Ctx): Seq[(String, Double)] = {
    Util.deleteTree(root.resolve("out"))
    iter += 1
    rewritten = 0L
    val oneKg = out("1kgenomes")
    val transforms = Seq(
      cli(ctx, "transform 1kgenomes", "transform", "-p", "1kgenomes",
        "--fixtures", in.toString, "--out", oneKg.toString),
      cli(ctx, "transform gtex", "transform", "-p", "gtex",
        "--fixtures", in.toString, "--out", out("gtex").toString))
    val upserts = for (b <- 0 until Batches; t <- Upserted) yield
      s"upsert $b $t" -> ctx.op(s"upsert $b $t") {
        ctx.spans("sinks.upsert") {
          Ndjson.createOrExtend(ctx.spark, delta(ctx, b, t), oneKg.toString, t, update(b))
        }
        rewritten += Files.size(oneKg.resolve(s"$t.ndjson"))
      }
    transforms ++ upserts ++ Seq(validateCli(ctx, "1kgenomes"), validateCli(ctx, "gtex"))
  }

  def verify(ctx: Ctx): Unit = {
    val oneKg = out("1kgenomes")
    val want = oneKgExpect.copy(types = oneKgExpect.types ++
      upsertExpect.map { case (t, (e, _)) => t -> e })
    FhirInputs.verify(ctx, "1kgenomes", oneKg, want)
    FhirInputs.verify(ctx, "gtex", out("gtex"), gtexExpect)
    for (t <- Upserted; b <- 0 until Batches) {
      val got = Files.readAllLines(oneKg.resolve(s"$t.ndjson")).stream
        .filter(_.contains("\"" + sentinel(b) + "\"")).count
      val expected = upsertExpect(t)._2(b)
      ctx.check(s"upsert/$t sentinel $b", got == expected, s"got $got want $expected")
    }
    checkSummary(ctx, "1kgenomes", oneKg, want.types.map { case (t, e) => t -> e.count })
    checkSummary(ctx, "gtex", out("gtex"), gtexExpect.types.map { case (t, e) => t -> e.count })
  }

  def layers(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val f = in.toString
    // sources: every reader, counted one at a time
    val readers: Seq[(String, () => DataFrame)] = Seq(
      "sample_info" -> (() => OneKg.readSampleInfo(spark, s"$f/onekg_sample_info.tsv")),
      "ftp_listing" -> (() => OneKg.readFtpListing(spark, s"$f/onekg_ftp_listing.tsv")),
      "vcf_header" -> (() => OneKg.readHeaderSampleIds(spark, s"$f/onekg_vcf_header.txt")),
      "gtex_subjects" -> (() => Gtex.readTsv(spark, s"$f/gtex_subjects.tsv")),
      "gtex_samples" -> (() => Gtex.readTsv(spark, s"$f/gtex_samples.tsv")),
      "gtex_attrs" -> (() => Gtex.readTsv(spark, s"$f/gtex_sample_attrs.tsv")),
      "gtex_filelist" -> (() => Gtex.readFileList(spark, s"$f/gtex_filelist.json")),
      "subject_pages" -> (() => Gtex.readSubjectPages(spark, s"$f/gtex_subject_pages")))
    var rows = 0L
    val readS = readers.map { case (n, df) =>
      Util.time(ctx.spans(s"sources.$n") { rows += df().count() }) }.sum
    ctx.put("sources.read_s", readS, "s")
    ctx.put("sources.rows", rows.toDouble, "count")
    ctx.check("subject pages rows", Gtex.readSubjectPages(spark,
      s"$f/gtex_subject_pages").count() == FhirSizes.GtexSubjects)

    // fhir: per-type transforms, JSON materialized without a sink
    val si = OneKg.readSampleInfo(spark, s"$f/onekg_sample_info.tsv").persist()
    val subjects = Gtex.readTsv(spark, s"$f/gtex_subjects.tsv").persist()
    val samples = Gtex.readTsv(spark, s"$f/gtex_samples.tsv").persist()
    val oneKgFrames = Seq(
      "Patient" -> OneKg.patients(si),
      "ResearchSubject" -> OneKg.researchSubjects(si),
      "Specimen" -> OneKg.specimens(si),
      "ResearchStudy" -> OneKg.researchStudy(spark),
      "DocumentReference" -> OneKg.documentReferences(
        OneKg.readFtpListing(spark, s"$f/onekg_ftp_listing.tsv")))
    val gtexFrames = Seq(
      "Patient" -> Gtex.patients(subjects),
      "ResearchSubject" -> Gtex.researchSubjects(subjects),
      "Specimen" -> Gtex.specimens(samples),
      "DocumentReference" -> Gtex.documentReferences(
        Gtex.readFileList(spark, s"$f/gtex_filelist.json")))
    fhirLayer(ctx, oneKgFrames ++ gtexFrames)

    // sinks: each Ndjson.write on its own, then the Group step
    val seqDir = ctx.dir("layers/sequential")
    var sinkS = Map.empty[String, Double]
    for ((t, df) <- oneKgFrames)
      sinkS += t -> Util.time(ctx.spans(s"sinks.write_$t") {
        if (t == "DocumentReference") Ndjson.createOrExtend(spark, df, seqDir.toString, t)
        else Ndjson.write(df, seqDir.toString, t)
      })
    val groupS = Util.time(ctx.spans("etl.group") {
      OneKg.group(spark,
        OneKg.readHeaderSampleIds(spark, s"$f/onekg_vcf_header.txt"),
        OneKg.specimenSampleIds(spark, s"$seqDir/Specimen.ndjson")).collect()
    })
    val groupSinkS = Util.time(ctx.spans("sinks.write_Group") {
      Ndjson.createOrExtend(spark, OneKg.group(spark,
        OneKg.readHeaderSampleIds(spark, s"$f/onekg_vcf_header.txt"),
        OneKg.specimenSampleIds(spark, s"$seqDir/Specimen.ndjson")),
        seqDir.toString, "Group")
    })
    val gtexDir = ctx.dir("layers/gtex_sequential")
    val gtexSinkS = gtexFrames.map { case (t, df) =>
      Util.time(ctx.spans(s"sinks.write_gtex_$t") { Ndjson.write(df, gtexDir.toString, t) })
    }.sum
    Seq(si, subjects, samples).foreach(_.unpersist())
    ctx.put("sinks.write_s", sinkS.values.sum + groupSinkS + gtexSinkS, "s")
    ctx.put("sinks.bytes_written",
      (Util.treeBytes(seqDir) + Util.treeBytes(gtexDir)).toDouble, "bytes")
    ctx.put("etl.group_s", groupS, "s")

    // etl: the concurrent pipelines, called directly
    val runAllDir = ctx.dir("layers/runall")
    val oneKgS = Util.time(ctx.spans("etl.onekg_runall") {
      OneKg.runAll(spark, f, runAllDir.resolve("1kgenomes").toString) })
    val gtexS = Util.time(ctx.spans("etl.gtex_runall") {
      Gtex.runAll(spark, f, runAllDir.resolve("gtex").toString) })
    ctx.put("etl.onekg_runall_s", oneKgS, "s")
    ctx.put("etl.gtex_runall_s", gtexS, "s")
    ctx.put("sinks.overlap", (sinkS.values.sum + groupSinkS) / oneKgS, "ratio")
    FhirInputs.verify(ctx, "runall 1kgenomes", runAllDir.resolve("1kgenomes"), oneKgExpect)
    FhirInputs.verify(ctx, "runall gtex", runAllDir.resolve("gtex"), gtexExpect)

    // upsert: the traced iterations' createOrExtend calls
    ctx.put("sinks.upsert_s", Util.median(ctx.spans.all.filter(_.name == "sinks.upsert")
      .map(_.seconds)), "s")
    ctx.put("sinks.write_amp", rewritten.toDouble / deltaBytes, "ratio")

    validateLayer(ctx, Seq(out("1kgenomes"), out("gtex")))
    ctx.put("sinks.tmp_dirs_left", Util.ndjsonTmpDirs().toDouble, "count")
  }
}
