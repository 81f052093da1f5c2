package graft.queries

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 hardening: items flagged by the r15 review — the NSW
  * partition count must DERIVE from the corpus size (the constant
  * P=8 made the graph build quadratic at scale), and qb8's estimators
  * must stay total on degenerate inputs. */
class Round16OpsSpec extends AnyFunSuite with SparkSuite {

  test("qb6 partition count derives from the corpus under the " +
    "per-partition budget — bounded build at any scale") {
    // the r15 defect: NswParts = 8 constant ⇒ O((n/8)²) build. The
    // formula must (a) floor at 8, (b) grow linearly past the budget,
    // (c) keep the per-partition node count ≤ ~budget at ANY n —
    // which is what bounds the all-pairs build.
    assert(Similarity.nswPartsFor(0) == Similarity.NswMinParts)
    assert(Similarity.nswPartsFor(500) == 8)   // sf0.001 / sf0.01
    assert(Similarity.nswPartsFor(2000) == 16) // sf0.1 — a SECOND P
    assert(Similarity.nswPartsFor(1L << 30) ==
      math.ceil((1L << 30) / Similarity.NswPartBudget.toDouble).toInt)
    for (n <- Seq(500L, 2000L, 1000000L, 1L << 30)) {
      val p = Similarity.nswPartsFor(n)
      assert(n.toDouble / p <= Similarity.NswPartBudget,
        s"partition budget exceeded at n=$n: n/P=${n / p}")
    }
    // the shipped sf dirs exercise two DISTINCT P against one oracle
    assert(Similarity.nswPartsAt(spark, "/root/testdata/sf0.001") !=
      Similarity.nswPartsFor(2000))
  }

  test("qba finds the off-anchor exact substring q4c structurally " +
    "misses, with the exact maximal span") {
    import spark.implicits._
    // a 28-char exact copy inside otherwise-different documents:
    // shorter than q4c's 32-char window, so q4c cannot report it
    // REGARDLESS of anchor luck — while qba must report the maximal
    // span exactly (the copy, not a sub-seed of it).
    val shared = "the quick brown fox jumps ov" // 28 chars
    assert(shared.length == 28)
    val docs = Seq(
      (1L, s"AAAA $shared BBBB padding text to reach the q4c length " +
        "floor of thirty-two characters easily"),
      (2L, s"XXXXXXX $shared YYYY entirely different tail content " +
        "with nothing else in common at all zz"),
      (3L, "no overlap here whatsoever, a control document of " +
        "comparable length and no shared content")).toDF("doc_id", "text")
    val q4c = Dedup.verbatimSpanPairs(docs).collect()
    assert(q4c.isEmpty,
      s"q4c unexpectedly reported ${q4c.length} pairs for a sub-window run")
    val qba = Dedup.exactSubstringPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // maximal span: both docs also share the SPACE before and after
    // the planted 28 chars, so the true maximal match is
    // " the quick brown fox jumps ov " = 30 chars, starting at doc1
    // pos 5 (after "AAAA") and doc2 pos 8 (after "XXXXXXX") —
    // maximality extends through every shared boundary char
    assert(qba.toSeq == Seq((1L, 2L, 5L, 8L, 30L)),
      s"qba spans diverged from the planted copy: ${qba.toSeq}")
  }

  test("qbb cuts the merged span set: overlapping spans from two " +
    "partners collapse to one cut, and the kept text is exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doc 9 shares overlapping runs with docs 1 and 2: "AAAA...MMMM"
    // via doc 1 and "GGGG...SSSS" via doc 2 — the union is one
    // contiguous region of doc 9, so the merge must produce ONE cut,
    // and doc 9 is always the higher id (spans cut from it only).
    val core = "AAAA BBBB CCCC DDDD EEEE FFFF GGGG HHHH IIII JJJJ " +
      "KKKK LLLL MMMM NNNN OOOO PPPP QQQQ RRRR SSSS"
    // head/tail overlap inside doc 9 (so the cuts merge) but share
    // only 15 chars with each other (< 24: docs 1 and 2 must not
    // pair with each other, only with doc 9)
    val head = core.substring(0, 50)  // "AAAA".."JJJJ "
    val tail = core.substring(35)     // "HHH.."..."SSSS"
    val docs = Seq(
      (1L, s"x1 $head y1 unrelated tail piece one"),
      (2L, s"z2 w2 different head $tail q2"),
      (9L, s"prefix9 $core suffix9")).toDF("doc_id", "text")
    val out = Dedup.exactSubstringApply(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getString(5)))
    assert(out.length == 1 && out.head._1 == 9L,
      s"expected only doc 9 rewritten, got ${out.toSeq}")
    val (_, nCuts, removed, cleanLen, identity, md5got) = out.head
    assert(nCuts == 1, s"overlapping spans did not merge: $nCuts cuts")
    assert(identity, "length identity violated")
    val text9 = s"prefix9 $core suffix9"
    assert(removed > head.length && removed > tail.length,
      s"merged cut ($removed) should exceed either span alone")
    assert(cleanLen == text9.length - removed)
    // cross-check the exact clean text against a brute-force oracle:
    // remove every maximal shared substring >= 24 chars (computed
    // naively) from doc 9 and compare hashes
    def maximalSpans(x: String, y: String): Seq[(Int, Int)] = {
      // naive O(n*m) diagonal scan, 1-based [s, e) over x
      val spans = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      for (d <- -(y.length) to x.length) {
        var i = math.max(0, d)
        while (i < x.length && i - d < y.length) {
          if (x(i) == y(i - d)) {
            var j = i
            while (j < x.length && j - d < y.length && x(j) == y(j - d))
              j += 1
            if (j - i >= Dedup.SubstrMinMatch) spans += ((i + 1, j + 1))
            i = j
          } else i += 1
        }
      }
      spans.toSeq
    }
    val all = (maximalSpans(text9, s"x1 $head y1 unrelated tail piece one")
      ++ maximalSpans(text9, s"z2 w2 different head $tail q2"))
      .distinct.sortBy(x => x)
    val mergedIv = all.foldLeft(List.empty[(Int, Int)]) {
      case (acc, (s, e)) => acc match {
        case (ps, pe) :: rest if s <= pe => (ps, math.max(pe, e)) :: rest
        case _ => (s, e) :: acc
      }
    }.reverse
    val cleanRef = {
      val sb = new StringBuilder
      var cur = 1
      mergedIv.foreach { case (s, e) =>
        sb.append(text9.substring(cur - 1, s - 1)); cur = e }
      sb.append(text9.substring(cur - 1)).toString
    }
    val md5ref = java.security.MessageDigest.getInstance("MD5")
      .digest(cleanRef.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(md5got == md5ref,
      s"clean text diverged from the brute-force reference")
  }

  test("qbc serve reuses the stored seed index: the second call " +
    "reports no rebuild and still finds batch-vs-corpus spans") {
    val sfDir = "/root/testdata/sf0.001"
    Dedup.loadOrBuildSubstrIndex(spark, sfDir)
    val (_, builtAgain) = Dedup.loadOrBuildSubstrIndex(spark, sfDir)
    assert(!builtAgain, "second qbc index load claims a rebuild")
    val out = Dedup.exactSubstringIncremental(spark, sfDir)
    assert(out.count() > 0, "no batch-vs-corpus spans at sf0.001")
    // every pair crosses the parity split by construction
    import org.apache.spark.sql.functions._
    assert(out.filter(pmod(col("batch_doc"), lit(2)) =!= 1 ||
      pmod(col("corpus_doc"), lit(2)) =!= 0).count() == 0,
      "a pair failed the batch/corpus parity contract")
  }
}
