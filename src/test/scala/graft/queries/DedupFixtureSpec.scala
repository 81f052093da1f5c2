package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic fixture verification for the LSH near-dup operators
  * (q42/q43 run rows-only in the driver gate because LSH is not
  * SQL-expressible — this spec is their correctness evidence):
  * planted near-duplicates with hand-computed Jaccard must be found
  * with the exact expected score; identical copies must collapse into
  * one content class; unrelated docs must not pair; oversized buckets
  * must be dropped. */
class DedupFixtureSpec extends AnyFunSuite with SparkSuite {

  private val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliet kilo lima mike november oscar papa quebec romeo sierra " +
    "tango uniform victor" // 22 words → 20 distinct 3-shingles
  private val nearDup = base.replace("victor", "whiskey") // last word changed
  private val unrelated = "one two three four five six seven eight nine " +
    "ten eleven twelve thirteen fourteen fifteen sixteen"

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, base), (2L, nearDup), (3L, base) /* identical copy of 1 */,
      (4L, unrelated)
    ).toDF("doc_id", "text")
  }

  /** Independent reference Jaccard over 3-word shingles. */
  private def jaccard3(a: String, b: String): Double = {
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("q42 minhash: planted near-dup found with exact hand-computed Jaccard") {
    val pairs = Dedup.minhashPairs(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val expected = BigDecimal(jaccard3(base, nearDup))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(jaccard3(base, nearDup) > 0.9) // 19/21
    assert(pairs.contains((1L, 2L)), s"planted pair not found: $pairs")
    assert(pairs((1L, 2L)) == expected)
    // identical copy collapsed: no (1,3)/(2,3) pairs, no unrelated pairs
    assert(pairs.keySet == Set((1L, 2L)), s"unexpected pairs: $pairs")
  }

  test("q43 simhash: planted near-dup within Hamming 7, copies collapsed") {
    // at the registered default (8 bands of 8 bits, maxHamming=7) recall
    // is pigeonhole-DETERMINISTIC: this planted pair (Hamming 5 on the
    // MD5 basis) must be found regardless of where the flipped bits land
    val pairs = Dedup.simhashPairs(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.contains((1L, 2L)), s"planted pair not found: $pairs")
    assert(pairs((1L, 2L)) <= 7)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "identical copy leaked into simhash pairing")
  }

  test("bucket cap drops oversized buckets, keeps small ones") {
    import spark.implicits._
    val banded = ((1 to Dedup.MaxBucketSize + 1).map(i => (i.toLong, 0, 7L)) ++
      Seq((100L, 1, 9L), (101L, 1, 9L))).toDF("doc_id", "band", "bh")
    val kept = Dedup.capBuckets(banded, Seq("band", "bh"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(100L, 101L))
  }

  test("content classes: one representative per distinct text, min doc_id") {
    val reps = Dedup.contentClassReps(docs).collect()
      .map(_.getLong(0)).toSet
    assert(reps == Set(1L, 2L, 4L))
  }
}
