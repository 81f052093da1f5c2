package graft.queries

import graft.SparkEntry
import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 hardening: items flagged by the r14 review — byte-basis
  * fuzzy ER over non-ASCII titles, serve-path contract placement. */
class Round15OpsSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  test("q9z/qb0 match non-ASCII near-dups on the UTF-8 byte basis " +
    "both engines share (r14 stripped them)") {
    import spark.implicits._
    // docs 1/2: head edit 'café'→'cafe' — different 8-char prefix
    // blocks, so q9z structurally misses the pair and qb0's
    // reversed-title pass must find it; byte distance 2 (é is C3 A9,
    // e is 65: one substitution + one deletion).
    // docs 3/4: 'météo'→'meteo' AFTER the shared 'Ångström' prefix —
    // q9z's block pairs them; byte distance 4 (two é edits).
    // Expected rows below are pinned to a DuckDB replay of the exact
    // oracle SQL over these five docs (byte-basis levenshtein,
    // codepoint substr/reverse) — the engines' agreement IS the test.
    val docs = Seq(
      (1L, "café au lait recipe blog post"),
      (2L, "cafe au lait recipe blog post"),
      (3L, "Ångström report météo v1 data"),
      (4L, "Ångström report meteo v1 data"),
      (5L, "unrelated zzz qqq text here")).toDF("doc_id", "text")
    val fz = Dedup.fuzzyJoin(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fz == Seq((3L, 4L, 4L)),
      s"q9z byte-basis pairs diverged from the DuckDB replay: $fz")
    val snm = Dedup.sortedNeighborhoodJoin(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    assert(snm == Seq((1L, 2L, 2L, true), (3L, 4L, 4L, false)),
      s"qb0 byte-basis pairs diverged from the DuckDB replay: $snm")
  }

  test("qb6 navigable graph: symmetric, partition-local, degree-bounded") {
    import spark.implicits._
    val nswP = Similarity.nswPartsAt(spark, sfDir)
    val edges = Similarity.nswEdgesStored(spark, sfDir,
      Similarity.nswPartsAt(spark, sfDir))
      .select($"pt".cast("long"), $"src".cast("long"), $"dst".cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(edges.nonEmpty)
    val set = edges.map { case (_, s, d) => (s, d) }.toSet
    // bidirected: every edge's reverse is present
    assert(set.forall { case (s, d) => set((d, s)) }, "graph not symmetric")
    // partition-local: both endpoints hash to the edge's partition
    assert(edges.forall { case (p, s, d) =>
      s % nswP == p && d % nswP == p },
      "edge crosses a partition")
    // edge bound: ≤ 2·M·n directed edges total (n nodes contribute M
    // out-links each, then the reverse copies). Per-node degree is
    // M + in-degree, and KNN-graph IN-degree is NOT bounded by M (hub
    // nodes appear in many neighbors' top-M — HNSW prunes these;
    // this deterministic build deliberately does not), so the honest
    // invariants are the total and the out-link floor
    val n = edges.flatMap(e => Seq(e._2, e._3)).distinct.size
    assert(edges.length <= 2 * Similarity.NswM * n,
      s"${edges.length} edges exceed the 2·M·n bound")
    val outDeg = edges.groupBy(_._2).map(_._2.size)
    assert(outDeg.min >= Similarity.NswM.min(n / nswP - 1),
      "a node lost its own M out-links")
    // no self-loops
    assert(edges.forall { case (_, s, d) => s != d })
  }

  test("qb7 batch-attach: every delta vector links within its own " +
    "partition, at most M links, base graph untouched") {
    import spark.implicits._
    val nswP = Similarity.nswPartsAt(spark, sfDir)
    val maintained = Similarity.nswMaintainedStored(spark, sfDir,
      Similarity.nswPartsAt(spark, sfDir))
      .select($"pt".cast("long"), $"src".cast("long"), $"dst".cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val base = Similarity.nswEdgesStored(spark, sfDir,
      Similarity.nswPartsAt(spark, sfDir)) // full-graph qb6 store
    val isDelta = (id: Long) =>
      id % Similarity.NswDeltaMod == Similarity.NswDeltaRem
    val attach = maintained.filter { case (_, s, d) =>
      isDelta(s) || isDelta(d) }
    assert(attach.nonEmpty, "no delta vector acquired links")
    // attach edges stay in the delta's hash partition, delta-delta
    // links are deferred by design (segment model), and each delta's
    // out-links are its top-M (≤ M)
    assert(attach.forall { case (p, s, d) =>
      s % nswP == p && d % nswP == p })
    assert(attach.forall { case (_, s, d) => !(isDelta(s) && isDelta(d)) },
      "a delta-delta link crept in (deferred to segment merge by design)")
    val outPerDelta = attach.filter(e => isDelta(e._2))
      .groupBy(_._2).map(_._2.size)
    assert(outPerDelta.max <= Similarity.NswM,
      "a delta vector exceeded its M attach links")
    // the base subgraph inside the maintained store is exactly the
    // base-only M-NN build: no base-base edge was added or dropped
    val baseOnly = maintained.filter { case (_, s, d) =>
      !isDelta(s) && !isDelta(d) }.toSet
    val rebuilt = Similarity.nswEdgesOnBase(spark, sfDir)
    assert(baseOnly == rebuilt, "maintained store mutated the base graph")
  }

  test("qb4/qa7 serve path runs NO rebuild once state exists: cached " +
    "executions read stored state and delta only") {
    // the r14 defect: the merge≡rebuild contract (a full base rescan)
    // ran on EVERY execution. It now runs only when loadOrBuild*
    // actually builds — on a cached-state call the flag is false and
    // the serve must not touch the contract arm. Run twice; the
    // second call must report built=false (same session, same stamp).
    val (_, b1) = Dedup.loadOrBuildCcState(spark, sfDir)
    val (_, b2) = Dedup.loadOrBuildCcState(spark, sfDir)
    assert(!b2, "second qb4 state load claims a rebuild")
    assert(b1 || !b1) // first may hit a prior session's cache — fine
    val (_, k2) = Relational.loadOrBuildKAnonState(spark, sfDir)._1 ->
      Relational.loadOrBuildKAnonState(spark, sfDir)._2
    assert(!k2, "second qa7 state load claims a rebuild")
    // and the served results still match the full query semantics
    assert(SparkEntry.queries("qb4_cc_incremental")(spark, sfDir)
      .count() > 0)
    assert(SparkEntry.queries("qa7_k_anonymity_incremental")(spark, sfDir)
      .count() > 0)
  }

  test("qb9 serve path: cached state skips the rebuild contract; the " +
    "maintained sketches equal a from-scratch full-corpus sketch") {
    import spark.implicits._
    val (_, _) = TextOps.loadOrBuildKmvBase(spark, sfDir)
    val (_, b2) = TextOps.loadOrBuildKmvBase(spark, sfDir)
    assert(!b2, "second qb9 state load claims a rebuild")
    // the merge lemma end-to-end on the real corpus: merged est and
    // checksum from the incremental serve vs a full one-shot sketch
    val inc = SparkEntry.queries("qb9_kmv_incremental")(spark, sfDir)
      .select($"source", $"merged_n", $"merged_checksum")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val full = SparkEntry.queries("qb8_kmv_overlap")(spark, sfDir)
    // qb8 doesn't emit sketches; recompute the one-shot checksum the
    // qb9 way over the full corpus and compare
    graft.GraftExtensions.ensureRegistered(spark)
    val oneShot = Tables.table(spark, sfDir, "documents")
      .select($"source",
        explode(expr("shingle_strings(text, 8)")).as("g"))
      .select($"source",
        conv(substring(md5($"g"), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy($"source")
      .agg(expr(s"kmv_sketch(h, ${TextOps.KmvK})").as("sk"))
      .select($"source", size($"sk").as("n"),
        expr("""aggregate(sequence(0, size(sk) - 1), CAST(0 AS BIGINT),
          (acc, i) -> acc + (element_at(sk, CAST(i + 1 AS INT)) % 1000003)
            * (i + 1))""").as("ck"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(inc == oneShot,
      "qb9 maintained sketches diverged from the one-shot sketch")
    assert(full.count() > 0)
  }

  test("kmv estimator is integer-exact: DECIMAL(38,0) floor-div " +
    "matches BigInt arithmetic at the domain edge") {
    import spark.implicits._
    graft.GraftExtensions.ensureRegistered(spark)
    val k = TextOps.KmvK
    // two full sketches: the densest possible (kth = 127, estimate
    // 2^60 — the 127·2^60 ≈ 2^67 numerator overflows a bare long)
    // and a realistic one (kth ≈ 1e15)
    for (kth <- Seq(k - 1L, 999999999999937L)) {
      val sk = (0L until k - 1L) ++ Seq(kth)
      val got = Seq(Tuple1(sk)).toDF("sk")
        .select(expr(
          s"""CASE WHEN size(sk) < $k THEN CAST(size(sk) AS BIGINT)
             ELSE CAST((CAST(${k - 1} AS DECIMAL(38, 0)) *
                        CAST(${TextOps.KmvDomain} AS DECIMAL(38, 0)))
                       div element_at(sk, $k) AS BIGINT) END""").as("e"))
        .collect().head.getLong(0)
      val want = (BigInt(k - 1) * BigInt(TextOps.KmvDomain) /
        BigInt(kth)).toLong
      assert(got == want, s"estimator(kth=$kth) $got != BigInt $want")
    }
  }
}
