package perfbench

import graft.etl.{Gtex, OneKg}
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** What a correct transform writes for one resource type: line count,
  * smallest and largest id. */
final case class TypeExpect(count: Long, minId: String, maxId: String)

/** The expected output of one project's transform, computed on the
  * driver from the generated rows with the JVM `IdMinter.mintIdentifier`
  * path (independent of the column minting the engine runs). */
final case class Expect(types: Map[String, TypeExpect], groupMembers: Long,
    groupChecksum: String)

object Expect {
  def of(ids: Iterable[String]): TypeExpect = TypeExpect(ids.size, ids.min, ids.max)

  def members(refs: Iterable[String]): (Long, String) =
    (refs.size.toLong, Util.md5Hex(refs.toSeq.sorted.mkString("\n")))
}

/** Seeded input generators for the FHIR workloads. Every input is a
  * function of (seed, size); the same seed gives byte-identical files. */
object FhirInputs {
  /** Rows of the 1000 Genomes sample_info TSV, with its header. */
  val OneKgColumns = Seq("Sample", "Gender", "Population",
    "Population Description", "DNA Source from Coriell",
    "Main project LC platform")

  private val Populations = Seq(
    "GBR" -> "British in England and Scotland", "FIN" -> "Finnish in Finland",
    "CHS" -> "Southern Han Chinese", "PUR" -> "Puerto Ricans from Puerto Rico",
    "YRI" -> "Yoruba in Ibadan, Nigeria", "PEL" -> "Peruvians from Lima, Peru",
    "CEU" -> "Utah Residents (CEPH) with Northern and Western European Ancestry",
    "JPT" -> "Japanese in Tokyo, Japan", "GIH" -> "Gujarati Indian from Houston, Texas")

  final case class OneKgRow(sample: String, gender: String, pop: String,
      popDesc: String, dnaSource: String, platform: String) {
    def tsv: String = Seq(sample, gender, pop, popDesc, dnaSource, platform).mkString("\t")
  }

  def oneKgRow(rng: Random, sample: String): OneKgRow = {
    val (pop, desc) = Populations(rng.nextInt(Populations.size))
    val dna = rng.nextInt(10) match { case 0 => "Blood"; case 1 | 2 => "LCL"; case _ => "" }
    val platform = rng.nextInt(20) match {
      case 0 => "ABI_SOLID"; case 1 => "LS454"; case 2 | 3 => ""; case _ => "ILLUMINA" }
    OneKgRow(sample, if (rng.nextBoolean()) "male" else "female", pop, desc, dna, platform)
  }

  def writeTsv(path: Path, header: Seq[String], rows: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(path)
    try {
      w.write(header.mkString("\t")); w.write("\n")
      rows.foreach { r => w.write(r); w.write("\n") }
    } finally w.close()
  }

  /** 1000 Genomes inputs: `n` samples, a VCF header listing ~70% of them
    * plus 3 planted absentees, and a 2,400-row FTP listing with non-vcf
    * and duplicated names. Returns the oracle of `transform -p 1kgenomes`. */
  def oneKg(dir: Path, seed: Long, n: Int): Expect = {
    val rng = new Random(seed * 31 + 1)
    Files.createDirectories(dir)
    val samples = (0 until n).map(i => f"BX$i%07d")
    writeTsv(dir.resolve("onekg_sample_info.tsv"), OneKgColumns,
      samples.iterator.map(s => oneKgRow(rng, s).tsv))

    val listed = samples.filter(_ => rng.nextInt(10) < 7)
    val absentees = Seq("ZZABSENT1", "ZZABSENT2", "ZZABSENT3")
    Files.writeString(dir.resolve("onekg_vcf_header.txt"),
      "##fileformat=VCFv4.1\n" + (Seq("#CHROM", "POS", "ID", "REF", "ALT",
        "QUAL", "FILTER", "INFO", "FORMAT") ++ rng.shuffle(listed ++ absentees))
        .mkString("\t") + "\n")

    val chroms = (1 to 22).map(_.toString) ++ Seq("X", "Y", "MT")
    val names = mutable.ArrayBuffer.empty[String]
    val listing = (0 until 2400).map { i =>
      val name =
        if (names.nonEmpty && rng.nextInt(10) == 0) names(rng.nextInt(names.size))
        else rng.nextInt(6) match {
          case 0 => f"README_$i%04d.txt"
          case 1 => f"sample_$i%04d.bam"
          case k => s"ALL.chr${chroms(rng.nextInt(chroms.size))}.phase3_v$i." +
            "20130502.genotypes.vcf.gz" + (if (k == 2) ".tbi" else "")
        }
      names += name
      val size = if (rng.nextInt(50) == 0) 0L else (rng.nextLong() >>> 20)
      f"$name\t$size\t2014-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d" +
        f"T${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:${rng.nextInt(60)}%02d"
    }
    writeTsv(dir.resolve("onekg_ftp_listing.tsv"), Seq("file", "size", "last_modified"),
      listing.iterator)

    val m = OneKg.minter
    def mint(t: String, v: String) = m.mintIdentifier(t, OneKg.MintSystem, v)
    val docIds = names.distinct.filter(_.toLowerCase.contains("vcf"))
      .map(m.mintIdentifier("DocumentReference", OneKg.FtpDirectory, _))
    val sampleSet = samples.toSet
    val (nMembers, checksum) = Expect.members(listed.distinct
      .filter(sampleSet).map(s => "Specimen/" + mint("Specimen", s)))
    Expect(Map(
      "Patient" -> Expect.of(samples.map(mint("Patient", _))),
      "ResearchSubject" -> Expect.of(samples.map(mint("ResearchSubject", _))),
      "Specimen" -> Expect.of(samples.map(mint("Specimen", _))),
      "ResearchStudy" -> Expect.of(Seq(OneKg.StudyId)),
      "DocumentReference" -> Expect.of(docIds),
      "Group" -> Expect.of(Seq(OneKg.GroupId))), nMembers, checksum)
  }

  /** GTEx inputs: `subjects` subjects, `shared` samples present in both
    * the samples and the attributes tables, a 300-row samples-only tail,
    * a 400-row attributes-only tail, a fileList JSON, and the subject
    * API as paged JSON envelopes. Returns the oracle of `transform -p gtex`. */
  def gtex(dir: Path, seed: Long, subjects: Int, shared: Int): Expect = {
    val rng = new Random(seed * 31 + 2)
    Files.createDirectories(dir)
    val subj = (0 until subjects).map(i => f"GTEX-B$i%05d")
    val hardy = Seq("Slow death", "Ventilator case", "Fast death - violent",
      "Intermediate death", "Fast death - natural")
    val subjRows = subj.map { s =>
      val h = if (rng.nextInt(3) == 0) "" else hardy(rng.nextInt(hardy.size))
      (s, if (rng.nextBoolean()) "male" else "female",
        s"${2 + rng.nextInt(6)}0-${2 + rng.nextInt(6)}9", h)
    }
    writeTsv(dir.resolve("gtex_subjects.tsv"),
      Seq("subjectId", "sex", "ageBracket", "hardyScale"),
      subjRows.iterator.map { case (a, b, c, d) => s"$a\t$b\t$c\t$d" })
    val pages = Files.createDirectories(dir.resolve("gtex_subject_pages"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    subjRows.grouped(250).zipWithIndex.foreach { case (rows, p) =>
      val data = rows.map { case (a, b, c, d) => Map("subjectId" -> a, "sex" -> b,
        "ageBracket" -> c, "hardyScale" -> (if (d.isEmpty) null else d)).asJava }
      Files.writeString(pages.resolve(f"page-$p%04d.json"), mapper.writeValueAsString(
        Map("data" -> data.asJava, "paging_info" -> Map("page" -> p).asJava).asJava))
    }

    val aliquots = (0 until shared).map(i => f"SM-B$i%07d")
    val dataTypes = Seq("RNA-Seq", "WGS", "", "WES")
    val freeze = Seq("Frozen", "Fresh", "PAXgene")
    val samplesOnly = (0 until 300).map(i => f"SM-X$i%05d")
    writeTsv(dir.resolve("gtex_samples.tsv"),
      Seq("aliquotId", "subjectId", "dataType", "freezeType"),
      (aliquots ++ samplesOnly).iterator.map(a =>
        s"$a\t${subj(rng.nextInt(subjects))}\t${dataTypes(rng.nextInt(4))}\t" +
          freeze(rng.nextInt(3))))
    val tissues = Seq("Blood", "Brain", "Liver", "Lung", "Muscle", "Skin")
    writeTsv(dir.resolve("gtex_sample_attrs.tsv"), Seq("SAMPID", "SMTS"),
      (aliquots ++ (0 until 400).map(i => f"SM-Z$i%05d")).iterator.map(a =>
        s"${subj(rng.nextInt(subjects))}-0003-$a\t${tissues(rng.nextInt(6))}"))

    // fileList: the first (protected) fileset is dropped by the transform
    val filesets = (0 until 6).map { f =>
      val files = (0 until (if (f == 0) 3 else 8 + rng.nextInt(5))).map(k =>
        Map("name" -> s"GTEx_Analysis_v8_set${f}_file$k.${Seq("txt", "gct.gz",
          "xlsx", "tar")(rng.nextInt(4))}", "type" -> "file",
          "size" -> s"${1 + rng.nextInt(900)}M", "release" -> "v8").asJava)
      Map("name" -> s"Fileset $f", "subpath" -> s"subpath_$f", "files" -> files.asJava).asJava
    }
    Files.writeString(dir.resolve("gtex_filelist.json"), mapper.writeValueAsString(Seq(
      Map("name" -> "GTEx Analysis V8", "filesets" -> filesets.asJava).asJava,
      Map("name" -> "Some Other Release", "filesets" -> Seq.empty.asJava).asJava).asJava))
    val files = filesets.drop(1).flatMap(_.get("files").asInstanceOf[java.util.List[
      java.util.Map[String, String]]].asScala.map(_.get("name")))

    val m = Gtex.minter
    def mint(t: String, v: String) = m.mintIdentifier(t, Gtex.MetaSystem, v)
    val (nMembers, checksum) =
      Expect.members(aliquots.map(a => "Specimen/" + mint("Specimen", a)))
    Expect(Map(
      "Patient" -> Expect.of(subj.map(mint("Patient", _))),
      "ResearchSubject" -> Expect.of(subj.map(mint("ResearchSubject", _))),
      "Specimen" -> Expect.of((aliquots ++ samplesOnly).map(mint("Specimen", _))),
      "ResearchStudy" -> Expect.of(Seq(Gtex.StudyId)),
      "DocumentReference" -> Expect.of(files.map(mint("DocumentReference", _))),
      "Group" -> Expect.of(Seq(Gtex.GroupId))), nMembers, checksum)
  }

  private val IdRe = "\"id\":\"([^\"]+)\"".r
  private val MemberRe = "\"reference\":\"(Specimen/[^\"]+)\"".r

  /** Ids of the resources in one NDJSON file, read line by line. */
  def ids(file: Path): Seq[String] =
    Files.readAllLines(file).asScala.toSeq.filter(_.trim.nonEmpty)
      .map(l => IdRe.findFirstMatchIn(l).map(_.group(1)).getOrElse(""))

  /** Compare a transform's output directory against its oracle; every
    * mismatch is a failed check. */
  def verify(ctx: Ctx, label: String, out: Path, e: Expect): Unit = {
    for ((t, want) <- e.types) {
      val f = out.resolve(s"$t.ndjson")
      val got = if (Files.exists(f)) ids(f) else Nil
      val gotE = if (got.isEmpty) TypeExpect(0, "", "") else Expect.of(got)
      ctx.check(s"$label/$t", gotE == want, s"got $gotE want $want")
      ctx.check(s"$label/$t unique ids", got.distinct.size == got.size)
    }
    val group = Files.readString(out.resolve("Group.ndjson"))
    val refs = MemberRe.findAllMatchIn(group).map(_.group(1)).toSeq
    ctx.check(s"$label/Group members", Expect.members(refs) ==
      (e.groupMembers, e.groupChecksum), s"got ${refs.size} want ${e.groupMembers}")
  }
}
