package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ANN quality gates: LSH recall vs the exact top-k, and candidate-set
  * reduction vs brute force. The synthetic embeddings are near-uniform
  * (top-5 cosines ≈ 0.3-0.45, no real clusters), which is the
  * worst case for random-projection LSH — the thresholds encode an
  * honest floor for that regime, not a marketing number. */
class SimilaritySpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.01"

  test("q51 LSH recall ≥ 0.4 vs exact top-5, candidates < 60% of brute force") {
    val exact = Similarity.knnExact(spark, sfDir)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.knnLsh(spark, sfDir)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.4, s"LSH recall $recall below floor")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nCorpus = emb.count()
    val nQueries = emb.filter(col("vec_id") % 100 === 0).count()
    val bruteForcePairs = nQueries * (nCorpus - 1)
    val c = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = c.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val nCandidates = Similarity.lshCandidates(c, q).count()
    val ratio = nCandidates.toDouble / bruteForcePairs
    assert(ratio < 0.6, s"LSH scanned $ratio of brute-force pairs")
    info(f"recall=$recall%.2f candidates=$ratio%.2f of brute force")
  }

  test("q57 pruned ADC ≡ full ADC restricted to the probed cells") {
    import org.apache.spark.sql.expressions.Window
    // deterministic self-consistency of the IVF-PQ composition: pruning
    // must only REMOVE candidates, never change a surviving distance or
    // rank — so q57's answer must equal the full-corpus ADC scores
    // (q56's scored set) semi-joined to the probe candidates, top-5.
    val cands = Similarity.ivfpqCandidates(spark, sfDir)
    val expected = Similarity.adcFullScores(spark, sfDir)
      .join(cands, Seq("q_id", "vec_id"), "left_semi")
      .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("admic").asc, col("vec_id").asc)))
      .filter(col("rn") <= Similarity.K)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(col("admic") / 1e6, 6).as("adc_d2"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = graft.SparkEntry.queries("q57_ivfpq_search")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected, "pruned search diverged from restricted full ADC")

    // and the probe must actually prune: nprobe=2 of 8 cells
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val bruteForcePairs = emb.filter(col("vec_id") % 100 === 0).count() *
      (emb.count() - 1)
    val scoredPairs = cands.count()
    assert(scoredPairs < bruteForcePairs * 6 / 10,
      s"probe scored $scoredPairs of $bruteForcePairs pairs — no pruning")
  }

  test("q50 exact top-k: every query returns exactly K rows") {
    val counts = Similarity.knnExact(spark, sfDir)
      .groupBy("q_id").count().collect().map(_.getLong(1)).toSet
    assert(counts == Set(Similarity.K.toLong))
  }

  test("q5b recall contract: fixture IVF-PQ recall is the pinned constant," +
    " all families clear their floors") {
    val rows = Similarity.annRecall(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("ivfpq_fixture", "ivfpq_sf", "lsh_sf"))
    val byFam = rows.map(r => r.getString(0) -> r.getDouble(4)).toMap
    // the fixture is committed bytes + deterministic math → recall is an
    // exact constant; any machinery change (routing, encode, ADC, top-k
    // tiebreak) moves it
    assert(byFam("ivfpq_fixture") == 0.62,
      s"fixture IVF-PQ recall drifted: ${byFam("ivfpq_fixture")}")
    rows.foreach(r => assert(r.getDouble(4) >= r.getDouble(5)))
    // every family reports the same denominator geometry: K rows per query
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(1) * Similarity.K,
        s"${r.getString(0)}: possible ${r.getLong(3)} != n_queries*K")
    }
  }

  test("q5c codebook k scales with corpus count and clamps at both ends") {
    assert(Similarity.chooseCodebookK(0) == 8)
    assert(Similarity.chooseCodebookK(500) == 8) // sf0.01 shape
    assert(Similarity.chooseCodebookK(513) == 9) // first step past the floor
    assert(Similarity.chooseCodebookK(2000) == 32) // sf0.1 shape
    assert(Similarity.chooseCodebookK(1000000) == Similarity.SemDedupMaxK)
  }

  test("q5c at k=8 reproduces q59's exact pair set (checksum cross-check)") {
    // sf0.01 has 500 vectors ⇒ chooseCodebookK = 8 = q59's frozen k, so
    // the scaled query must find the IDENTICAL dup-pair set — checksum
    // and count pin it against the independently-written q59 plan
    val q59 = graft.SparkEntry.queries("q59_semantic_dedup")(spark, sfDir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expectedChecksum = q59.map { case (a, b) => a * 1000003L + b }.sum
    val row = Similarity.semdedupScaledK(spark, sfDir).collect().head
    assert(row.getInt(0) == 8, s"expected k=8 at sf0.01, got ${row.getInt(0)}")
    assert(row.getLong(5) == q59.length.toLong,
      s"pair count ${row.getLong(5)} != q59's ${q59.length}")
    assert(row.getLong(6) == expectedChecksum,
      s"pair checksum ${row.getLong(6)} != q59-derived $expectedChecksum")
    assert(row.getBoolean(4), "cell-size bound not satisfied")
  }
}
