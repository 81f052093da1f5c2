package graft.queries

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Result-level contracts for the round-8 operators, beyond their
  * DuckDB oracles: cross-implementation agreement (q69 vs q63) and the
  * algorithmic invariant the k-means loop exists to deliver (monotone
  * inertia descent). */
class Round8OpsSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, sfDir)

  test("q69's latest in-horizon click per purchase == q63's as-of answer") {
    // two different temporal-join semantics that must agree on their
    // overlap: q63 picks THE latest click at-or-before each purchase
    // (unbounded lookback); q69 emits ALL clicks in the preceding hour.
    // Therefore: a purchase appears in q69 iff its q63 last-click is
    // within the hour, and q69's max click_ts for it equals q63's
    // last_click_ts exactly.
    import org.apache.spark.sql.functions._
    def us(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val q69ByPurchase = run("q69_stream_interval_join")
      .groupBy(col("event_id"))
      .agg(max(col("click_ts")).as("max_click"))
      .collect().map(r => r.getLong(0) -> us(r.getTimestamp(1))).toMap
    val q63 = run("q63_asof_join")
      .filter(col("user_id") < 20)
      .collect().map { r =>
        val last = if (r.isNullAt(3)) None else Some(us(r.getTimestamp(3)))
        (r.getLong(0), us(r.getTimestamp(2)), last)
      }
    assert(q69ByPurchase.nonEmpty)
    val hourUs = 3600L * 1000000L
    q63.foreach { case (eventId, purchaseUs, lastClick) =>
      val inHorizon = lastClick.exists(c =>
        c <= purchaseUs && purchaseUs < c + hourUs)
      assert(q69ByPurchase.contains(eventId) == inHorizon,
        s"purchase $eventId: q69 presence ${q69ByPurchase.contains(eventId)}" +
          s" != in-horizon $inHorizon")
      if (inHorizon)
        assert(q69ByPurchase(eventId) == lastClick.get,
          s"purchase $eventId: q69 max click ${q69ByPurchase(eventId)} != " +
            s"q63 last click ${lastClick.get}")
    }
  }

  test("Lloyd loop monotonically decreases inertia (the point of q5a)") {
    // J(cent_t) is non-increasing in t for exact k-means; our means are
    // 6-decimal-rounded so allow one micro-unit of rounding slack per
    // corpus row on the later (small) steps — the first step must be a
    // strict, large improvement over the seed centroids
    val c = Similarity.lloydCorpus(spark, sfDir).persist()
    try {
      val g0 = Similarity.seedGrid(c)
      val g1 = Similarity.lloydMeans(c, g0)
      val g2 = Similarity.lloydMeans(c, g1)
      val n = c.count()
      val i0 = Similarity.inertiaMicro(c, g0)
      val i1 = Similarity.inertiaMicro(c, g1)
      val i2 = Similarity.inertiaMicro(c, g2)
      assert(i1 < i0, s"first Lloyd step did not improve: $i0 -> $i1")
      assert(i2 <= i1 + n, s"second Lloyd step regressed: $i1 -> $i2")
    } finally c.unpersist()
  }

  test("q4c catches a verbatim copy at ANY alignment (content anchors)") {
    import spark.implicits._
    // the same 300-char paragraph planted in three documents at
    // different offsets (0, 8, and 14 counting the joining space —
    // mutually off-phase for the stride-16 grid this detector
    // replaced), surrounded by unrelated filler; plus a control
    // document with no shared content. Content-defined anchors derive
    // the same anchor set from the paragraph ITSELF, so all three
    // copies must pair with each other and never with the control,
    // regardless of offset.
    val para = (1 to 60).map(i => s"tok$i").mkString(" ").take(300)
    def filler(seed: String, n: Int) =
      Iterator.tabulate(n)(i => s"$seed$i").mkString(" ").take(n)
    val docs = Seq(
      (1L, para + " " + filler("aa", 100)),
      (2L, filler("bb", 7) + " " + para + " " + filler("cc", 50)),
      (3L, filler("dd", 13) + " " + para),
      (4L, filler("ee", 400))).toDF("doc_id", "text")
    val pairs = Dedup.verbatimSpanPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"expected exactly the three copy pairs, got $pairs")
  }

  test("q5a output shape: n_iters in range, members partition the corpus") {
    val rows = run("q5a_kmeans_converge").collect()
    assert(rows.length == 8)
    val nIters = rows.head.getAs[Int]("n_iters")
    assert(nIters >= 1 && nIters <= Similarity.MaxLloydIters)
    val totalMembers = rows.map(_.getAs[Long]("n_members")).sum
    val corpusRows = Similarity.lloydCorpus(spark, sfDir).count()
    assert(totalMembers == corpusRows,
      s"cell members $totalMembers != corpus rows $corpusRows")
  }
}
