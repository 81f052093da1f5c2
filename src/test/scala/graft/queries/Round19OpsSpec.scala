package graft.queries

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Round-19 additions and hardening: the qce mojibake repair codec
  * (fixture round-trips, corruption-operator inverse, refusal cases),
  * the qcf lexicon gate branches, qcc's sorted-run-max rewrite
  * (r17/r18 review item), the qba/qbb store-served forms' equivalence
  * with the fresh kernels, and the shared recursive-delete helper's
  * symlink safety (r18 advice). */
class Round19OpsSpec extends AnyFunSuite with SparkSuite {

  val sfDir = "/root/testdata/sf0.001"

  // ---- MojibakeRepair codec -------------------------------------------

  /** Sloppy-cp1252 high block, independently restated (same published
    * table the main codec embeds — a transcription error on either
    * side breaks the round-trip tests below). */
  private val Hi: Array[Char] = Array(
    0x20AC, 0x0081, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021,
    0x02C6, 0x2030, 0x0160, 0x2039, 0x0152, 0x008D, 0x017D, 0x008F,
    0x0090, 0x2018, 0x2019, 0x201C, 0x201D, 0x2022, 0x2013, 0x2014,
    0x02DC, 0x2122, 0x0161, 0x203A, 0x0153, 0x009D, 0x017E, 0x0178)
    .map(_.toChar)

  /** The corruption operator the fixtures were generated with: UTF-8
    * bytes mis-decoded as sloppy cp1252. */
  private def corrupt(s: String): String =
    s.getBytes("UTF-8").map { b =>
      val u = b & 0xff
      if (u < 0x80) u.toChar
      else if (u < 0xa0) Hi(u - 0x80)
      else u.toChar
    }.mkString

  private val MarkerChars = Set('\u00c3', '\u00c2', '\u00e2')

  test("mojibake fixtures round-trip exactly as pinned (text + iters)") {
    for (((moji, fixed, iters), i) <- TextOps.MojiFixtures.zipWithIndex) {
      val (got, it) = graft.expressions.MojibakeRepair.repair(moji)
      assert(got == fixed, s"fixture $i repaired text diverged")
      assert(it == iters, s"fixture $i iterations: got $it, want $iters")
    }
  }

  test("repair inverts the corruption operator, incl. double damage " +
    "and embedded ASCII context") {
    val cleans = Seq(
      "caf\u00e9",
      "it\u2019s \u201cfine\u201d",
      "x \u00e9  y",
      "\u0153uvre \u2014 d\u00e9but")
    for (c <- cleans) {
      val once = corrupt(c)
      assert(graft.expressions.MojibakeRepair.repair(once) == ((c, 1)),
        s"single corruption of <$c> did not repair")
      val twice = corrupt(once)
      assert(graft.expressions.MojibakeRepair.repair(twice) == ((c, 2)),
        s"double corruption of <$c> did not repair")
      val inCtx = "the fast key " + once + " order sort"
      assert(graft.expressions.MojibakeRepair.repair(inCtx) ==
        (("the fast key " + c + " order sort", 1)),
        "corruption embedded in ASCII context did not repair")
    }
  }

  test("repair refuses: ASCII short-circuit, genuine Latin-1, " +
    "truncated mojibake, CJK, and repaired output is a fixpoint") {
    val r = graft.expressions.MojibakeRepair.repair _
    assert(r("plain ascii text") == (("plain ascii text", 0)))
    assert(r("d\u00e9j\u00e0 vu") == (("d\u00e9j\u00e0 vu", 0)),
      "genuine Latin-1 must not be touched")
    // corrupt("it's") = i t <a-circ> <euro> <tm> s; dropping the final
    // "<tm>s" leaves <a-circ><euro> \u2014 a mojibake sequence missing its
    // last continuation byte (dropping only the ASCII 's' would leave
    // a COMPLETE, repairable sequence)
    val trunc = corrupt("it\u2019s").dropRight(2)
    assert(r(trunc) == ((trunc, 0)),
      "truncated mojibake must pass through, not half-repair")
    // CJK has no cp1252 byte image at all -> encode fails -> untouched
    assert(r("\u4f60\u597d world") == (("\u4f60\u597d world", 0)))
    // repair is idempotent on every fixture's repaired form
    for ((_, fixed, _) <- TextOps.MojiFixtures)
      assert(r(fixed)._1 == fixed, s"repair(repair(x)) moved <$fixed>")
  }

  test("qce kernel: planted rows carry the fixture's exact marker " +
    "count and repair to the expected construction; clean rows are " +
    "identity") {
    import spark.implicits._
    val out = TextOps.encodingHygiene(spark, sfDir)
      .select($"doc_id", $"planted", $"fi", $"markers_before",
        $"markers_after", $"iters", $"changed", $"fixed_md5")
      .collect()
    val docs = Tables.table(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(out.length == docs.size)
    var plantedSeen = 0
    for (row <- out) {
      val id = row.getLong(0)
      val planted = row.getBoolean(1)
      assert(planted == (id % 5 == 2))
      if (!planted) {
        assert(row.getInt(2) == -1 && row.getLong(3) == 0 &&
          row.getInt(5) == 0 && !row.getBoolean(6),
          s"clean doc $id was touched")
      } else {
        plantedSeen += 1
        val (moji, fixed, iters) =
          TextOps.MojiFixtures(((id / 5) % TextOps.MojiFixtures.size).toInt)
        assert(row.getInt(5) == iters, s"doc $id iters")
        val expect = fixed + " " + docs(id)
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(expect.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        assert(row.getString(7) == md5, s"doc $id repaired md5")
        assert(row.getBoolean(6) == (moji != fixed), s"doc $id changed")
        assert(row.getLong(3) == moji.count(MarkerChars), s"doc $id markers")
        assert(row.getLong(4) == fixed.count(MarkerChars),
          s"doc $id post-repair markers")
      }
    }
    assert(plantedSeen > 50, s"plant rate degenerate: $plantedSeen")
  }

  // ---- qcf: lexicon gate branches --------------------------------------

  test("qcf branches: zero-tolerance rejection, threshold rejection, " +
    "kept - with exact micro arithmetic") {
    import spark.implicits._
    val docs = Seq(
      // 1 dup in 50 words: micro tiny but zero-tolerance rejects
      (1L, (Seq.fill(49)("table") :+ "dup").mkString(" ")),
      // 3 slow in 50 words = 60 000 micro > 40 000: latency rejects
      (2L, (Seq.fill(47)("table") ++ Seq.fill(3)("slow")).mkString(" ")),
      // 2 slow in 50 = 40 000 micro: exactly at threshold -> kept
      (3L, (Seq.fill(48)("table") ++ Seq.fill(2)("slow")).mkString(" ")),
      // 3 big in 50: bulk rejects even with latency clean
      (4L, (Seq.fill(47)("table") ++ Seq.fill(3)("big")).mkString(" ")),
      (5L, "join scan merge"))
      .toDF("doc_id", "text")
    val out = TextOps.lexiconFilterOf(docs)
      .select($"doc_id", $"latency_micro", $"bulk_micro", $"dupe_hits",
        $"kept")
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 0L, 0L, 1L, false)), "zero-tolerance branch")
    assert(out(1) == ((2L, 60000L, 0L, 0L, false)), "latency threshold")
    assert(out(2) == ((3L, 40000L, 0L, 0L, true)), "at-threshold kept")
    assert(out(3) == ((4L, 0L, 60000L, 0L, false)), "bulk threshold")
    assert(out(4) == ((5L, 0L, 0L, 0L, true)), "clean kept")
  }

  test("qcf splits the corpus non-trivially at sf0.001") {
    import spark.implicits._
    val kept = TextOps.lexiconFilter(spark, sfDir)
      .groupBy($"kept").count().as[(Boolean, Long)].collect().toMap
    assert(kept.getOrElse(true, 0L) > 50 && kept.getOrElse(false, 0L) > 50,
      s"degenerate split: $kept")
  }

  // ---- qcc: sorted-run-max top-word count ------------------------------

  test("qcc top_cnt = brute-force max word multiplicity on hand cases " +
    "incl. ties, runs at sorted-array ends, and all-same docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a c a"), // top 'a' x3 sorts FIRST
      (2L, "z z z y y x"), // top 'z' x3 sorts LAST
      (3L, "m n o"), // all distinct
      (4L, "t t s s"), // tie 2-2
      (5L, "w w w w w")) // degenerate all-same
      .toDF("doc_id", "text")
    val brute = docs.as[(Long, String)].collect().toMap.map {
      case (id, t) =>
        id -> t.split(" ").groupBy(identity).values.map(_.length).max
    }
    val micro = TextOps.repetitionMetricsOf(docs)
      .selectExpr("doc_id", "top_word_micro", "n_words")
      .as[(Long, Long, Long)].collect()
    assert(micro.length == 5)
    for ((id, m, n) <- micro)
      assert(m == brute(id).toLong * 1000000L / n,
        s"doc $id top_word_micro diverged from brute force")
  }

  // ---- qba/qbb: store-served == fresh kernel ---------------------------

  test("qba stored pairs == fresh kernel pairs at sf0.001") {
    import spark.implicits._
    val stored = Dedup.exactSubstringPairsStored(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val fresh = Dedup.exactSubstringPairs(Dedup.contentClassReps(
      Tables.table(spark, sfDir, "documents").select($"doc_id", $"text")))
      .collect().map(_.toSeq).toSeq
    assert(stored == fresh, "store-served qba diverged from fresh kernel")
  }

  test("qbb stored rewrite == fresh kernel rewrite at sf0.001") {
    import spark.implicits._
    val stored = Dedup.exactSubstringApplyStored(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val fresh = Dedup.exactSubstringApply(Dedup.contentClassReps(
      Tables.table(spark, sfDir, "documents").select($"doc_id", $"text")))
      .collect().map(_.toSeq).toSeq
    assert(stored == fresh, "store-served qbb diverged from fresh kernel")
  }

  // ---- shared recursive delete: symlink safety (r18 advice) ------------

  test("deleteRecursively removes a directory symlink WITHOUT " +
    "deleting the target's contents") {
    val base = java.nio.file.Files.createTempDirectory("r19del")
    val target = java.nio.file.Files.createDirectory(base.resolve("target"))
    java.nio.file.Files.writeString(target.resolve("keep.txt"), "keep")
    val victim = java.nio.file.Files.createDirectory(base.resolve("victim"))
    java.nio.file.Files.writeString(victim.resolve("x.txt"), "x")
    java.nio.file.Files.createSymbolicLink(victim.resolve("link"), target)
    Tables.deleteRecursively(victim.toFile)
    assert(!java.nio.file.Files.exists(victim), "victim not deleted")
    assert(java.nio.file.Files.exists(target.resolve("keep.txt")),
      "symlink target contents were deleted through the link")
    Tables.deleteRecursively(base.toFile)
  }

  // ---- qcg: Unicode NFC normalization -----------------------------------

  test("NFC fixtures normalize to the hand-pinned UAX #15 forms") {
    // fixture 7: A+ring -> \u00c5, B+acute has no precomposed form
    // (stays decomposed), C+cedilla -> \u00c7
    val expected = Seq(
      "\u00e9clair",
      "\u00e4 \u00fcber",
      "caf\u00e9 nfc",
      "\ufb01le \ufb02ow",
      "\uac01 hangul",
      "q\u0307 \u1e59",
      "\u01eb\u0301 mixed",
      "\u00c5 B\u0301 \u00c7")
    for (((raw, mustChange), i) <- TextOps.NfcFixtures.zipWithIndex) {
      val got = graft.expressions.NfcNormalize.eval(
        org.apache.spark.unsafe.types.UTF8String.fromString(raw)).toString
      val want = expected(i)
      assert(got == want, s"fixture $i NFC output diverged")
      assert((got != raw) == mustChange, s"fixture $i changed flag")
      // idempotence: NFC is a projection
      val again = graft.expressions.NfcNormalize.eval(
        org.apache.spark.unsafe.types.UTF8String.fromString(got)).toString
      assert(again == got, s"fixture $i NFC not idempotent")
    }
  }

  test("NFC fast path: already-normalized input returns the SAME " +
    "UTF8String instance (no allocation on the clean hot path)") {
    val in = org.apache.spark.unsafe.types.UTF8String.fromString(
      "plain ascii corpus row")
    assert(graft.expressions.NfcNormalize.eval(in) eq in)
    val nfc = org.apache.spark.unsafe.types.UTF8String.fromString(
      "caf\u00e9 already composed")
    assert(graft.expressions.NfcNormalize.eval(nfc) eq nfc)
  }

  test("qcg kernel: planted rows change exactly when the fixture " +
    "composes, codepoint deltas match, clean rows are identity") {
    import spark.implicits._
    val out = TextOps.unicodeNormalize(spark, sfDir)
      .select($"doc_id", $"planted", $"fi", $"cp_before", $"cp_after",
        $"changed")
      .collect()
    // per-fixture codepoint shrink of the PREFIX under NFC
    val delta = Seq(1L, 2L, 0L, 0L, 2L, 1L, 1L, 2L)
    var plantedSeen = 0
    for (row <- out) {
      val id = row.getLong(0)
      assert(row.getBoolean(1) == (id % 6 == 4))
      if (!row.getBoolean(1)) {
        assert(row.getInt(2) == -1 &&
          row.getLong(3) == row.getLong(4) && !row.getBoolean(5),
          s"clean doc $id was touched")
      } else {
        plantedSeen += 1
        val fi = row.getInt(2)
        assert(row.getLong(3) - row.getLong(4) == delta(fi),
          s"doc $id fixture $fi codepoint delta")
        assert(row.getBoolean(5) == TextOps.NfcFixtures(fi)._2,
          s"doc $id fixture $fi changed flag")
      }
    }
    assert(plantedSeen > 50, s"plant rate degenerate: $plantedSeen")
  }
}
