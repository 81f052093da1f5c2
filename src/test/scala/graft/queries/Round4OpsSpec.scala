package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-4 operators (q90/q91/q92/q3d/q54/
  * q65) beyond the rows>0 gate in QueriesSpec — value-level correctness
  * is the DuckDB oracle's job; these pin the *shape* claims each
  * operator's doc makes (conservation, thresholds, bounds).
  */
class Round4OpsSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, sfDir)

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("q90: packing conserves every token and every doc exactly once") {
    val out = run("q90_sequence_packing").collect()
    val expectedDocs = docs.count()
    val expectedToks = docs
      .agg(sum(size(split(col("text"), " ")).cast("long"))).head.getLong(0)
    assert(out.map(_.getAs[Long]("n_docs")).sum == expectedDocs)
    assert(out.map(_.getAs[Long]("total_tokens")).sum == expectedToks)
    // a sequence only exists because some doc starts in it
    out.foreach { r =>
      assert(r.getAs[Long]("n_seqs") >= 1L)
      assert(r.getAs[Long]("n_seqs") <= r.getAs[Long]("n_docs"))
    }
  }

  test("q91: integer weights replicate exactly, fractional weights subsample") {
    val out = run("q91_dataset_mixing").collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs_in"), r.getAs[Long]("n_copies_out"),
          r.getAs[Int]("max_epoch"))).toMap
    val inCounts = docs.groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    out.foreach { case (src, (nIn, nOut, maxEpoch)) =>
      val idx = src.stripPrefix("src").toInt
      if (idx < 5) { // w = 2.0: every doc kept, twice
        assert(nIn == inCounts(src) && nOut == 2 * nIn && maxEpoch == 2)
      } else if (idx < 10) { // w = 1.0: identity
        assert(nIn == inCounts(src) && nOut == nIn && maxEpoch == 1)
      } else { // w = 0.5 / 0.25: strict hash-subsample, single epoch
        assert(nIn < inCounts(src) && nOut == nIn && maxEpoch == 1)
      }
    }
  }

  test("q92: exactly the planted docs are flagged") {
    val out = run("q92_repetition_filter").collect()
    val planted = docs.filter(pmod(col("doc_id"), lit(7)) === 0).count()
    val total = docs.count()
    assert(out.map(_.getAs[Long]("n_flagged")).sum == planted)
    assert(out.map(_.getAs[Long]("n_kept")).sum == total - planted)
  }

  test("q3d: chunking covers every doc; overlap is non-negative and bounded") {
    val out = run("q3d_chunking").collect()
    val perLang = docs.groupBy("lang").agg(
      count(lit(1)).as("n"), sum(length(col("text")).cast("long")).as("chars"))
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n"), r.getAs[Long]("chars"))).toMap
    out.foreach { r =>
      val (nDocs, chars) = perLang(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_docs") == nDocs)
      assert(r.getAs[Long]("n_chunks") >= nDocs)
      val overlap = r.getAs[Long]("overlap_chars")
      // each chunk boundary overlaps ≤ 50 chars
      assert(overlap >= 0 && overlap <= (r.getAs[Long]("n_chunks") - nDocs) * 50)
      assert(r.getAs[Long]("sum_chunk_chars") == chars + overlap)
    }
  }

  test("q54: every vector lands in exactly one 64-dim cell") {
    val out = run("q54_kmeans_iter").collect()
    val corpusSize = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(out.map(_.getAs[Long]("n_members")).sum == corpusSize)
    out.foreach { r =>
      assert(r.getAs[Long]("n_dims") == 64L)
      val c = r.getAs[Long]("cell")
      assert(c >= 0 && c < 8)
      // unit-ish input vectors → mean vector strictly inside the ball
      assert(r.getAs[Double]("centroid_norm2") > 0.0 &&
        r.getAs[Double]("centroid_norm2") <= 1.0001)
    }
  }

  test("q66: funnel stages are monotonically non-increasing") {
    val r = run("q66_funnel").collect().head
    val (users, viewed, clicked, purchased) =
      (r.getAs[Long]("n_users"), r.getAs[Long]("n_viewed"),
        r.getAs[Long]("n_clicked"), r.getAs[Long]("n_purchased"))
    assert(users >= viewed && viewed >= clicked && clicked >= purchased)
    assert(viewed > 0, "no user ever viewed — funnel is vacuous")
  }

  test("q95: outlier partition is exhaustive and bounds are ordered") {
    run("q95_length_outliers").collect().foreach { r =>
      assert(r.getAs[Long]("n_too_short") + r.getAs[Long]("n_too_long") +
        r.getAs[Long]("n_kept") == r.getAs[Long]("n_docs"))
      assert(r.getAs[Double]("lo") <= r.getAs[Double]("hi"))
      // p05/p95 keeps the bulk
      assert(r.getAs[Long]("n_kept") * 10 >= r.getAs[Long]("n_docs") * 8)
    }
  }

  test("q3e: canonicalization strictly shrinks every planted doc") {
    run("q3e_canonicalize").collect().foreach { r =>
      assert(r.getAs[Long]("n_changed") == r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("chars_out") < r.getAs[Long]("chars_in"))
    }
  }

  test("q79: layout claims hold and content survives the rewrite") {
    val r = run("q79_zorder_layout").collect().head
    assert(r.getAs[Boolean]("multi_file") && r.getAs[Boolean]("ranges_disjoint"))
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    assert(r.getAs[Long]("n_rows") == li.count())
  }

  test("q65: one interval per event, ≤1 active interval per user") {
    val out = run("q65_scd2_intervals")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val nEvents = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("user_id") < 20).count()
    assert(out.count() == nEvents)
    val perUser = out.groupBy("user_id").agg(
      sum(when(col("active_at_snapshot"), 1).otherwise(0)).as("n_active"),
      sum(when(col("valid_to").isNull, 1).otherwise(0)).as("n_open"),
      max(when(col("duration_ms") < 0, 1).otherwise(0)).as("neg")
    ).collect()
    perUser.foreach { r =>
      assert(r.getAs[Long]("n_active") <= 1L)
      assert(r.getAs[Long]("n_open") == 1L) // exactly one current row
      assert(r.getAs[Int]("neg") == 0) // time never goes backwards
    }
  }
}
