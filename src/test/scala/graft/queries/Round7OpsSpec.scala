package graft.queries

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Result-level contracts for the round-7 composition queries, beyond
  * their DuckDB oracles: the equivalences their docs claim, asserted
  * against the OTHER implementation of the same semantics.
  */
class Round7OpsSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, sfDir)

  test("q58 over the partitioned layout == q57's logical probe, restricted") {
    // same routing, same codes, different physical access path — the
    // partition-pruned serve must not change a single neighbor or
    // distance for the served queries
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val got = run("q58_ivfpq_partitioned")
      .select("q_id", "neighbor_id", "adc_d2").collect().map(key).toSet
    val want = run("q57_ivfpq_search")
      .filter(org.apache.spark.sql.functions.col("q_id").isin(0L, 100L))
      .collect().map(key).toSet
    assert(got == want && got.nonEmpty)
  }

  test("q58 layout evidence: strictly fewer cells scanned than exist") {
    val r = run("q58_ivfpq_partitioned").collect()
    assert(r.nonEmpty)
    val scanned = r.head.getAs[Int]("cells_scanned")
    val total = r.head.getAs[Int]("cells_total")
    assert(r.head.getAs[Boolean]("partition_pruned"))
    assert(scanned > 0 && scanned < total,
      s"probe read $scanned of $total cell directories — no pruning")
    // nprobe=2 over two served queries can touch at most 4 cells
    assert(scanned <= 4, s"probed cell set too large: $scanned")
  }

  test("q59 cell-blocked pairs are a subset of the exact q45 pair scan") {
    // q45 is the exact all-pairs ≥0.4 scan over vec_id<1000 (= the whole
    // sf0.001 corpus), so every blocked pair q59 emits must appear there
    // with the same cosine — blocking may lose cross-cell pairs, but it
    // must never invent or rescore one
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val got = run("q59_semantic_dedup").collect().map(key).toSet
    val exact = run("q45_embedding_neardup").collect().map(key).toSet
    assert(got.nonEmpty, "blocking found no pairs at all")
    val invented = got -- exact
    assert(invented.isEmpty,
      s"pairs not in the exact scan (or rescored): ${invented.take(3)}")
  }

  test("q68 interval join agrees with q63's as-of join where both defined") {
    // two different plans for the same temporal semantics: the interval
    // containing a purchase is opened by exactly the latest click at or
    // before it, so q68's ctx_from must equal q63's last_click_ts for
    // every purchase of the bounded user set
    import org.apache.spark.sql.functions.col
    def tsOrNull(r: org.apache.spark.sql.Row, i: Int) =
      if (r.isNullAt(i)) null else r.getTimestamp(i)
    val rows = run("q68_interval_join")
      .select("event_id", "ctx_from").collect()
    val got = rows.map(r => r.getLong(0) -> tsOrNull(r, 1)).toMap
    // one interval per purchase: a duplicate match (purchase inside two
    // intervals) would be silently collapsed by toMap — catch it first
    assert(rows.length == got.size,
      s"${rows.length - got.size} purchases matched by >1 interval")
    val want = run("q63_asof_join")
      .filter(col("user_id") < 20)
      .select("event_id", "last_click_ts").collect()
      .map(r => r.getLong(0) -> tsOrNull(r, 1)).toMap
    assert(got.nonEmpty && got.keySet == want.keySet)
    val disagree = got.collect {
      case (id, ts) if want(id) != ts => (id, ts, want(id))
    }
    assert(disagree.isEmpty,
      s"interval join and as-of join disagree: ${disagree.take(3)}")
  }

  test("q7a: bucketed join carries its zero-exchange proof in the result") {
    val r = run("q7a_bucketed_join").collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getAs[Int]("join_exchanges") == 0))
    assert(r.forall(_.getAs[Boolean]("join_shuffle_free")))
  }
}
