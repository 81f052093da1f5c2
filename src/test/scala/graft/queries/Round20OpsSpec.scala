package graft.queries

import graft.SparkSuite
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Round-20 additions: the qch Aho-Corasick phrase matcher (automaton
  * vs brute force, overlap/shared-prefix/self-overlap/boundary/
  * codepoint-position adversarial cases), the qci composed hygiene
  * pipeline (fixture round-trips incl. the mixed moji+decomposed
  * refusal, stage-by-stage consistency with the solo qcc/qcf kernels
  * on unplanted rows), and the NfcNormalize ASCII byte fast path. */
class Round20OpsSpec extends AnyFunSuite with SparkSuite {

  val sfDir = "/root/testdata/sf0.001"

  // ---- PhraseAutomaton ------------------------------------------------

  private def auto(phrases: String*) =
    new graft.expressions.PhraseAutomaton(phrases.toArray)

  /** (nMatches, posSum, firstPos, counts) from a run. */
  private def run(a: graft.expressions.PhraseAutomaton, text: String) = {
    val r = a.run(UTF8String.fromString(text))
    (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getArray(3).toLongArray.toSeq)
  }

  /** Brute-force reference: every 1-based codepoint start position of
    * every phrase, overlaps included. */
  private def brute(phrases: Seq[String], text: String) = {
    val cps = text.codePoints().toArray
    val pcps = phrases.map(_.codePoints().toArray)
    val hits = for {
      (p, pid) <- pcps.zipWithIndex
      start <- 1 to (cps.length - p.length + 1)
      if cps.slice(start - 1, start - 1 + p.length).sameElements(p)
    } yield (pid, start)
    val counts = phrases.indices.map(i => hits.count(_._1 == i).toLong)
    val posSum = hits.map { case (pid, s) =>
      (pid + 1).toLong * s * s }.sum
    val first = if (hits.isEmpty) 0L else hits.map(_._2).min.toLong
    (hits.size.toLong, posSum, first, counts)
  }

  test("shared-prefix phrases: the short phrase is reported mid-way " +
    "through the long one") {
    val a = auto("slow scan", "slow scan slow")
    // "slow scan slow scan": short @1 and @11, long @1
    val (n, posSum, first, counts) = run(a, "slow scan slow scan")
    assert(counts == Seq(2L, 1L))
    assert(n == 3L)
    assert(posSum == 1L * 1 * 1 + 1L * 11 * 11 + 2L * 1 * 1)
    assert(first == 1L)
  }

  test("cross-phrase overlap and self-overlapping repeats") {
    val a = auto("big table", "table scan", "dup dup")
    // overlap sharing "table"
    assert(run(a, "big table scan") ==
      ((2L, 1L * 1 + 2L * 5 * 5, 1L, Seq(1L, 1L, 0L))))
    // self-overlap: "dup dup" at 1 and 5
    assert(run(a, "dup dup dup") ==
      ((2L, 3L * 1 + 3L * 5 * 5, 1L, Seq(0L, 0L, 2L))))
  }

  test("boundary and no-match cases: start, end, near-miss, empty") {
    val a = auto("slow scan")
    assert(run(a, "slow scan") == ((1L, 1L, 1L, Seq(1L))))
    assert(run(a, "x slow scan") == ((1L, 1L * 3 * 3, 3L, Seq(1L))))
    assert(run(a, "slow sca") == ((0L, 0L, 0L, Seq(0L))))
    assert(run(a, "") == ((0L, 0L, 0L, Seq(0L))))
    // the fail-link path: a partial match that restarts mid-phrase
    assert(run(a, "slow slow scan") == ((1L, 1L * 6 * 6, 6L, Seq(1L))))
  }

  test("positions are codepoint indices: multi-byte and supplementary " +
    "chars before the match each count once") {
    val a = auto("dup dup")
    // caf<e-acute> = 4 codepoints, space = 5, match starts at 6
    assert(run(a, "caf\u00e9 dup dup") ==
      ((1L, 1L * 6 * 6, 6L, Seq(1L))))
    // emoji (4-byte UTF-8, one codepoint) = 1, space = 2, match at 3
    assert(run(a, "\ud83d\ude00 dup dup") ==
      ((1L, 1L * 3 * 3, 3L, Seq(1L))))
  }

  test("automaton == brute force on an adversarial phrase set over " +
    "generated texts") {
    val phrases = Seq("a b", "a b a", "b a", "aa", "a")
    val a = auto(phrases: _*)
    val rnd = new scala.util.Random(20)
    val alphabet = "ab "
    for (len <- Seq(0, 1, 2, 5, 17, 64); trial <- 1 to 20) {
      val text = Seq.fill(len)(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(run(a, text) == brute(phrases, text),
        s"divergence on <$text>")
    }
  }

  test("the full qch lexicon replays against brute force on every " +
    "planted fixture arrangement") {
    val flat = TextOps.phraseFlat
    val a = auto(flat: _*)
    for (fx <- TextOps.PhraseFixtures)
      assert(run(a, fx) == brute(flat, fx), s"divergence on <$fx>")
  }

  test("qch kernel: fixture rows carry the arrangement's exact " +
    "matches; gate branches each fire") {
    import spark.implicits._
    val docs = Seq(
      // doc_id 3: planted with fixture (3 div 5) % 7 = 0
      //   "slow scan slow scan" + " " + "key value"
      (3L, "key value"),
      // doc_id 8: fixture (8 div 5) % 7 = 1 -> "big table scan"
      (8L, "key value"),
      // doc_id 13: fixture 2 -> "dup dup dup" (zero-tolerance)
      (13L, "key value"),
      // doc_id 23: fixture 4 -> "merge batch key" (control, kept)
      (23L, "key value"),
      // unplanted, one natural latency hit -> kept (at threshold)
      (0L, "the slow scan row"),
      // unplanted, two natural latency hits -> rejected (over)
      (5L, "slow scan x table slow"))
      .toDF("doc_id", "text")
    val out = TextOps.phraseLexiconOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap

    val d3 = out(3L)
    assert(d3.getAs[Long]("hits_slow_scan") == 2L)
    assert(d3.getAs[Long]("hits_slow_scan_slow") == 1L)
    assert(d3.getAs[Long]("latency_hits") == 3L)
    assert(!d3.getAs[Boolean]("kept"))

    val d8 = out(8L)
    assert(d8.getAs[Long]("hits_big_table") == 1L)
    assert(d8.getAs[Long]("hits_table_scan") == 1L)
    assert(d8.getAs[Long]("bulk_hits") == 2L)
    assert(!d8.getAs[Boolean]("kept"))

    val d13 = out(13L)
    assert(d13.getAs[Long]("dupe_hits") == 2L)
    assert(!d13.getAs[Boolean]("kept"))

    assert(out(23L).getAs[Boolean]("kept"))
    val at = out(0L)
    assert(at.getAs[Long]("latency_hits") == 1L &&
      at.getAs[Boolean]("kept"),
      "exactly one latency hit must sit AT the threshold and pass")
    val over = out(5L)
    assert(over.getAs[Long]("latency_hits") == 2L &&
      !over.getAs[Boolean]("kept"))
  }

  // ---- qci composed hygiene pipeline ----------------------------------

  test("hygiene fixtures round-trip the repair exactly as pinned, " +
    "and the mixed row is refused whole") {
    for (((raw, fixed, iters), i) <- TextOps.HygieneFixtures.zipWithIndex) {
      val (got, it) = graft.expressions.MojibakeRepair.repair(raw)
      assert(got == fixed, s"hygiene fixture $i repaired text diverged")
      assert(it == iters, s"hygiene fixture $i iterations: got $it")
    }
    // the mixed fixture: repair refuses (combining mark has no cp1252
    // byte) but NFC still composes the decomposed half and leaves the
    // mojibake chars (already NFC) alone
    val mixed = TextOps.HygieneFixtures(2)._1
    assert(mixed == "caf\u00c3\u00a9 e\u0301")
    assert(graft.expressions.MojibakeRepair.repair(mixed)._2 == 0)
    val norm = graft.expressions.NfcNormalize.eval(
      UTF8String.fromString(mixed)).toString
    assert(norm == "caf\u00c3\u00a9 \u00e9",
      "NFC must compose e+U+0301 and keep the mojibake bytes")
  }

  test("qci: planted stage flags and gate attribution are exact per " +
    "fixture class") {
    import spark.implicits._
    // doc_ids chosen so (id % 4 == 1) plants and (id div 4) % 8 walks
    // the fixture classes; body long enough for stable metrics
    val body = "key agg row scan fast merge batch part line sort " +
      "window hash join group filter"
    val docs = (0 until 8).map(fi => ((4 * fi + 1).toLong, body))
      .toDF("doc_id", "text")
    val out = TextOps.hygienePipelineOf(docs).collect()
      .map(r => r.getAs[Int]("fi") -> r).toMap

    // fi 0: repairable moji, 1 iteration, no NFC change
    assert(out(0).getAs[Int]("iters") == 1)
    assert(out(0).getAs[Boolean]("moji_changed"))
    assert(!out(0).getAs[Boolean]("nfc_changed"))
    // fi 1: decomposed -> repair no-op, NFC composes
    assert(out(1).getAs[Int]("iters") == 0)
    assert(!out(1).getAs[Boolean]("moji_changed"))
    assert(out(1).getAs[Boolean]("nfc_changed"))
    // fi 2: mixed -> refused whole, NFC still composes
    assert(!out(2).getAs[Boolean]("moji_changed"))
    assert(out(2).getAs[Boolean]("nfc_changed"))
    // fi 3: repetition bomb fails a repetition gate, lexicon clean
    assert(out(3).getAs[Long]("top_word_micro") > TextOps.RepTopWordMicro)
    assert(out(3).getAs[Long]("dupe_hits") == 0L)
    assert(!out(3).getAs[Boolean]("kept"))
    // fi 4: zero-tolerance lexicon hit, repetition untouched enough
    assert(out(4).getAs[Long]("dupe_hits") == 1L)
    assert(!out(4).getAs[Boolean]("kept"))
    // fi 5: doubly-encoded -> 2 iterations
    assert(out(5).getAs[Int]("iters") == 2)
    assert(out(5).getAs[Boolean]("moji_changed"))
    // fi 6: clean control -> all stage flags false
    assert(out(6).getAs[Int]("iters") == 0)
    assert(!out(6).getAs[Boolean]("moji_changed"))
    assert(!out(6).getAs[Boolean]("nfc_changed"))
    // fi 7: truncated -> passthrough
    assert(out(7).getAs[Int]("iters") == 0)
    assert(!out(7).getAs[Boolean]("moji_changed"))
  }

  test("qci == the solo kernels on unplanted rows: repetition micros " +
    "match qcc and lexicon micros match qcf on the real corpus") {
    val docs = Tables.table(spark, sfDir, "documents")
    val qci = TextOps.hygienePipelineOf(docs).collect()
      .filter(!_.getAs[Boolean]("planted"))
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val qcc = TextOps.repetitionMetricsOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val qcf = TextOps.lexiconFilterOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(qci.nonEmpty)
    for ((id, r) <- qci) {
      val c = qcc(id)
      assert(r.getAs[Long]("top_word_micro") ==
        c.getAs[Long]("top_word_micro"), s"doc $id top_word diverged")
      assert(r.getAs[Long]("dup2_micro") == c.getAs[Long]("dup2_micro"))
      assert(r.getAs[Long]("dup3_micro") == c.getAs[Long]("dup3_micro"))
      val f = qcf(id)
      assert(r.getAs[Long]("latency_micro") ==
        f.getAs[Long]("latency_micro"), s"doc $id latency diverged")
      assert(r.getAs[Long]("bulk_micro") == f.getAs[Long]("bulk_micro"))
      assert(r.getAs[Long]("dupe_hits") == f.getAs[Long]("dupe_hits"))
    }
  }

  // ---- qcj phrase redaction -------------------------------------------

  /** Engine call: the shipped redactor (automaton walk + island sweep
    * + byte rebuild) on a single string. */
  private def redact(phrases: Seq[String], tags: Seq[String],
      text: String): (String, Long, Long, Long) = {
    val r = graft.expressions.PhraseRedact
      .redactor(phrases.mkString("|"), tags.mkString("|"))
      .redact(UTF8String.fromString(text))
    (r.getUTF8String(0).toString, r.getLong(1), r.getLong(2),
      r.getLong(3))
  }

  /** Brute-force reference redactor: matches by codepoint slice
    * comparison, islands by an explicit sorted sweep over tuples,
    * rebuild by codepoint-array concatenation — no automaton, no
    * byte arithmetic, nothing shared with the engine path. */
  private def bruteRedact(phrases: Seq[String], tags: Seq[String],
      text: String): (String, Long, Long, Long) = {
    val cps = text.codePoints().toArray
    val pcps = phrases.map(_.codePoints().toArray)
    val hits = (for {
      (p, pid) <- pcps.zipWithIndex
      start <- 1 to (cps.length - p.length + 1)
      if cps.slice(start - 1, start - 1 + p.length).sameElements(p)
    } yield (start, p.length, pid))
      .sortBy { case (s, l, pid) => (s, -l, pid) }
    final case class Isl(s: Int, var e: Int, tag: String)
    val islands = scala.collection.mutable.ArrayBuffer.empty[Isl]
    for ((s, l, pid) <- hits) {
      val e = s + l - 1
      if (islands.nonEmpty && s <= islands.last.e) {
        if (e > islands.last.e) islands.last.e = e
      } else islands += Isl(s, e, tags(pid))
    }
    val sb = new StringBuilder
    var next = 1
    for (i <- islands) {
      sb.append(new String(cps, next - 1, i.s - next))
      sb.append(i.tag)
      next = i.e + 1
    }
    sb.append(new String(cps, next - 1, cps.length - next + 1))
    (sb.toString, islands.size.toLong,
      islands.map(i => (i.e - i.s + 1).toLong).sum,
      islands.map(_.tag.length.toLong).sum)
  }

  private val QcjFlat = TextOps.phraseFlat
  private val QcjTags = TextOps.phraseTagFlat

  test("qcj hand cases: overlap merge, island-starting tag, adjacency " +
    "kept separate, identity on clean text") {
    // prefix + self-overlap all merge into ONE latency island
    assert(redact(QcjFlat, QcjTags, "slow scan slow scan") ==
      (("[LAT]", 1L, 19L, 5L)))
    // cross-category chain merges under the FIRST (leftmost) match's
    // category; the zero-tolerance hit stays its own island
    assert(redact(QcjFlat, QcjTags, "big table slow scan dup dup") ==
      (("[BULK] [DUP]", 2L, 26L, 11L)))
    // adjacency (gap of one space) does NOT merge: two islands, two tags
    assert(redact(QcjFlat, QcjTags, "slow scan table scan") ==
      (("[LAT] [BULK]", 2L, 19L, 11L)))
    // self-overlapping repeats collapse to one island
    assert(redact(QcjFlat, QcjTags, "dup dup dup") ==
      (("[DUP]", 1L, 11L, 5L)))
    // clean text is the identity with zero islands
    assert(redact(QcjFlat, QcjTags, "merge batch key") ==
      (("merge batch key", 0L, 0L, 0L)))
    assert(redact(QcjFlat, QcjTags, "") == (("", 0L, 0L, 0L)))
  }

  test("qcj positions are codepoint-exact through multi-byte and " +
    "supplementary-plane context") {
    // 2-byte chars around the match: byte offsets differ from
    // codepoint offsets on BOTH sides of the island
    assert(redact(QcjFlat, QcjTags, "é slow scan é") ==
      (("é [LAT] é", 1L, 9L, 5L)))
    // a 4-byte supplementary codepoint before the match shifts every
    // byte offset by 3 relative to codepoint positions
    assert(redact(QcjFlat, QcjTags, "𝄞 dup dup") ==
      (("𝄞 [DUP]", 1L, 7L, 5L)))
  }

  test("qcj engine == brute force on generated texts over an " +
    "adversarial overlapping phrase set") {
    val phrases = Seq("a b", "a b a", "b a", "aa", "a")
    val tags = Seq("[P]", "[Q]", "[R]", "[S]", "[T]")
    val rnd = new scala.util.Random(21)
    val alphabet = "ab "
    for (len <- Seq(0, 1, 2, 5, 17, 64); trial <- 1 to 20) {
      val text = Seq.fill(len)(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(redact(phrases, tags, text) ==
        bruteRedact(phrases, tags, text), s"divergence on <$text>")
    }
  }

  test("qcj kernel == brute force on every constructed corpus input " +
    "at sf0.001, and the length identity holds on every row") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val n = TextOps.PhraseFixtures.size
    val expected = docs.map { case (id, text) =>
      val planted = id % 5 == 3
      val input = if (planted)
        TextOps.PhraseFixtures(((id / 5) % n).toInt) + " " + text
      else text
      val (red, ni, masked, tagc) = bruteRedact(QcjFlat, QcjTags, input)
      id -> ((ni, masked, tagc, md5hex(red)))
    }.toMap
    val got = SparkEntryAccess.run(spark, "qcj_phrase_redact", sfDir)
      .collect()
    assert(got.length == docs.length)
    for (r <- got) {
      val id = r.getLong(0)
      assert(r.getBoolean(8), s"len_ok false for doc $id")
      assert((r.getLong(4), r.getLong(5), r.getLong(6),
        r.getString(9)) == expected(id),
        s"doc $id diverged from the brute-force redaction")
    }
    // the fixture plant must actually exercise redaction: planted rows
    // with matches exist, and so do untouched clean rows
    assert(got.exists(r => r.getBoolean(1) && r.getLong(4) > 0))
    assert(got.exists(r => r.getLong(4) == 0))
  }

  // ---- NfcNormalize ASCII byte fast path (r19 verdict item) -----------

  test("NfcNormalize: pure-ASCII input returns the original instance " +
    "via the byte fast path, without decoding") {
    val ascii = UTF8String.fromString("plain ascii only")
    assert(graft.expressions.NfcNormalize.eval(ascii) eq ascii)
    // non-ASCII already-NFC still returns the original via isNormalized
    val nfc = UTF8String.fromString("caf\u00e9")
    assert(graft.expressions.NfcNormalize.eval(nfc) eq nfc)
    // and decomposed input still normalizes (the fast path must not
    // swallow the slow path)
    assert(graft.expressions.NfcNormalize.eval(
      UTF8String.fromString("e\u0301")).toString == "\u00e9")
  }
}
