package graft.queries

import graft.SparkEntry
import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 hardening: edge cases flagged by the r13 review (empty
  * state serves, driver-comparator shape rules, cross-engine
  * normalization). */
class Round14OpsSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  test("q9w rangeEstimates on an EMPTY events source returns an empty " +
    "frame of the serve shape, not an NPE") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("r14-empty-ev")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Relational.rangeEstimates(spark, dir.toString)
    assert(out.columns.toSeq ==
      Seq("range_id", "d_lo", "d_hi", "n_days_merged", "est_users"))
    assert(out.isEmpty, "empty per-day HLL state must serve zero ranges")
  }

  test("qa5 k-anonymity audit: a planted sub-K class and a planted " +
    "homogeneous class each trip their gate") {
    import spark.implicits._
    // class (1, A): 2 rows -> below K=5, diverse-enough irrelevant
    // class (2, B): 6 rows, all the same acctbal bracket -> k ok, l=1
    // class (3, C): 6 rows, 3 brackets -> both gates pass
    val rows =
      Seq((1, "A", 100.0), (1, "A", 2100.0)) ++
        (1 to 6).map(i => (2, "B", 500.0 + i)) ++
        (1 to 6).map(i => (3, "C", (i % 3) * 1000.0 + 1))
    val df = rows.toDF("c_nationkey", "c_mktsegment", "c_acctbal")
    val out = Relational.kAnonymityAudit(df).collect()
      .map(r => (r.getInt(0), r.getString(1)) ->
        (r.getLong(2), r.getBoolean(3), r.getLong(4), r.getBoolean(5),
          r.getLong(6))).toMap
    assert(out((1, "A")) == ((2L, false, 2L, false, 2L)))
    assert(out((2, "B")) == ((6L, true, 1L, false, 2L)))
    assert(out((3, "C")) == ((6L, true, 3L, true, 2L)))
  }

  test("qb0 sorted-neighborhood pass finds a head-edited near-dup the " +
    "q9z prefix block structurally misses") {
    import spark.implicits._
    // two titles differing only INSIDE the first 8 chars (3 subs, well
    // under FuzzyMaxLev): different prefix blocks (q9z cannot pair
    // them) but a shared suffix, so they sort adjacent on the
    // reversed title
    val docs = Seq(
      (1L, "AAAxxAAA common tail here and beyond"),
      (2L, "BBBxxAAA common tail here and beyond"),
      (3L, "completely unrelated text zzz")).toDF("doc_id", "text")
    assert(Dedup.fuzzyJoin(docs).collect().isEmpty,
      "prefix-block pass should miss the head-edited pair")
    val out = Dedup.sortedNeighborhoodJoin(docs).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    assert(r.getLong(2) <= Dedup.FuzzyMaxLev)
    assert(r.getBoolean(3), "pair must be flagged missed_by_prefix_block")
  }

  test("qb1 html extraction survives adversarial bodies: literal " +
    "markup chars, entity-looking text, runs of spaces") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a < b and c > d & e"), // raw markup chars in the body
      (2L, "looks like &amp; already"), // pre-existing entity text
      (3L, "double  spaces   galore"),
      (4L, "<script>alert(1)</script>"), // a whole fake tag as content
      (5L, "")).toDF("doc_id", "text")
    val out = TextOps.htmlExtract(docs).collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert(r.getBoolean(5),
        s"content_preserved failed for doc ${r.getLong(0)}: $r")
    }
    // doc 4's body is rendered as TEXT, not executed as markup: the
    // script-looking content survives extraction verbatim
    assert(out.find(_.getLong(0) == 4L).get.getInt(3) > 0)
  }

  test("qb4 contraction algebra: a delta edge merges two stored " +
    "clusters into their global-min label; untouched clusters and " +
    "pure-delta clusters compose correctly") {
    import spark.implicits._
    // stored state: cluster {1,2} (root 1), cluster {5,6} (root 5),
    // untouched cluster {9,10} (root 9)
    val assign = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L),
      (9L, 9L), (10L, 9L)).toDF("id", "root")
    // delta: doc 3 bridges the two clusters via NON-root members;
    // docs 20,21 form a brand-new pure-delta cluster
    val deltaEdges = Seq((3L, 2L), (3L, 6L), (21L, 20L))
      .toDF("src", "dst")
    val out = Dedup.contractAndCompose(assign, deltaEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 6L -> 1L,
      9L -> 9L, 10L -> 9L, 20L -> 20L, 21L -> 20L),
      s"composed labels wrong: $out")
  }

  test("qb3 embedding hygiene: planted short, NaN and zero vectors " +
    "each trip their counter and fail the ingest gate") {
    import spark.implicits._
    val good = Seq.tabulate(64)(i => 0.1 * (i % 7 + 1))
    val emb = Seq(
      (1L, good),
      (2L, good.take(63)), // dimension break
      (3L, good.updated(5, Double.NaN)), // non-finite element
      (4L, Seq.fill(64)(0.0))) // zero vector
      .toDF("vec_id", "embedding")
    val r = Similarity.embeddingHygiene(emb).collect().head
    assert(r.getLong(0) == 4)
    assert(r.getLong(1) == 1, s"n_bad_dim: $r")
    assert(r.getLong(2) == 1, s"n_nonfinite: $r")
    assert(r.getLong(3) == 1, s"n_zero: $r")
    assert(!r.getBoolean(7), "ingest gate must fail on planted garbage")
  }

  test("qa6 randomized response: debias identity holds and the noisy " +
    "estimate honors its own 5-sigma contract at sf0.001") {
    val row = SparkEntry.queries("qa6_randomized_response")(spark, sfDir)
      .collect().head
    val (n, noisy, est2) = (row.getLong(0), row.getLong(2), row.getLong(3))
    assert(est2 == 4 * noisy - n, "debias identity broken")
    assert(row.getBoolean(4), "5-sigma contract violated")
  }

  test("q9z fuzzy join: non-ASCII titles compare on the UTF-8 byte " +
    "basis, so the Spark distance equals DuckDB's byte-based distance") {
    import spark.implicits._
    // 'café…' vs 'cafe…': raw Spark lev = 1 (codepoints) but DuckDB
    // lev = 2 (bytes: é is C3 A9 → substitute + delete). Since r15 the
    // Spark side projects the title to one-char-per-UTF-8-byte before
    // the distance, so BOTH engines report 2 and the pair is matched
    // instead of stripped. The edit sits beyond char 8 so the raw
    // prefix blocks agree.
    val docs = Seq(
      (1L, "shared-bk café title x"),
      (2L, "shared-bk cafe title x")).toDF("doc_id", "text")
    val out = Dedup.fuzzyJoin(docs).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    assert(r.getLong(2) == 2L, s"expected byte distance 2, got $r")
  }
}
