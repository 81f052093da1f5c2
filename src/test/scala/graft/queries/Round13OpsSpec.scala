package graft.queries

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 operators: q9t (incrementally maintained histogram quantile
  * sketch) and q9u (tombstone purge through the stored postings index).
  * Each gets an independent replay arm (plain Scala / the scan-once
  * BM25 form) plus state-reuse and plan-evidence checks in the
  * Round9/Round12 style. */
class Round13OpsSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private def delTree(p: java.nio.file.Path): Unit = {
    def del(f: java.io.File): Unit = {
      Option(f.listFiles).toSeq.flatten.foreach(del)
      f.delete(); ()
    }
    del(p.toFile)
  }

  // ---------------------------------------------------------------
  // q9t: histogram quantile sketch
  // ---------------------------------------------------------------

  test("q9t: estimated buckets contain the exact quantiles, replayed " +
    "against a plain-Scala sort") {
    val out = Relational.quantileIncremental(spark, sfDir).collect()
    assert(out.length == 3, "one row per requested quantile")
    assert(out.forall(_.getAs[Boolean]("within_bucket")))
    assert(out.forall(_.getAs[Boolean]("merge_equals_rebuild")))

    // independent arm: exact quantiles by sorting every cent value in
    // plain Scala — no Spark aggregation or window shared with the
    // query path
    val cents = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("CAST(round(l_extendedprice * 100, 0) AS LONG) AS c")
      .collect().map(_.getLong(0)).sorted
    val n = cents.length.toLong
    for (r <- out) {
      val p = r.getAs[Long]("p")
      val target = ((p * n + 99) / 100).toInt // ceil(p·n/100)
      val exact = cents(target - 1)
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("exact_cents") == exact,
        s"p=$p: query exact ${r.getAs[Long]("exact_cents")} != replay $exact")
      assert(r.getAs[Long]("est_lo_cents") <= exact &&
        exact <= r.getAs[Long]("est_hi_cents"),
        s"p=$p: exact $exact outside estimated bucket")
      assert(r.getAs[Long]("est_hi_cents") - r.getAs[Long]("est_lo_cents")
        === Relational.QtBucketW - 1, "error bound must be one bucket width")
    }
  }

  test("q9t: stored histogram state builds once and is reused") {
    val (_, _, stateDir) = Relational.loadOrBuildQtState(spark, sfDir)
    delTree(java.nio.file.Paths.get(stateDir))
    val (_, builtFirst, _) = Relational.loadOrBuildQtState(spark, sfDir)
    assert(builtFirst, "fresh dir must trigger a histogram build")
    val (hist, builtSecond, _) = Relational.loadOrBuildQtState(spark, sfDir)
    assert(!builtSecond, "unchanged corpus must reuse the stored histogram")
    // state is histogram-sized, not corpus-sized: bucket count bounded
    // by max-price / bucket-width, far under the row count
    val nBuckets = hist.count()
    val nRows = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    assert(nBuckets > 10 && nBuckets < nRows / 2,
      s"state has $nBuckets buckets for $nRows rows — not sketch-sized")
  }

  // ---------------------------------------------------------------
  // q9u: tombstone purge
  // ---------------------------------------------------------------

  test("q9u: no tombstoned doc surfaces; masked serve ≡ scan-once BM25 " +
    "over the live corpus") {
    import org.apache.spark.sql.functions._
    val out = TextOps.tombstonePurge(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= 10)
    assert(out.forall(r =>
        r.getLong(0) % TextOps.TombMod != TextOps.TombRem),
      "a tombstoned doc surfaced in served results")

    // independent arm: q98's scan-once form over the live documents —
    // shares only the scoring formula, no index or stored state
    val live = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(pmod(col("doc_id"), lit(TextOps.TombMod)) =!= TextOps.TombRem)
      .select(col("doc_id"), col("text"))
    val expected = TextOps.bm25TopK(live, TextOps.Bm25TombTerms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"masked serve diverged from scan-once BM25 on live docs")
  }

  test("q9u: index state reused; masked serve reads only the index, " +
    "bucket-pruned, corpus never opened") {
    import org.apache.spark.sql.functions._
    val (_, _, _, _, _, stateDir) =
      TextOps.loadOrBuildTombstonedPostings(spark, sfDir)
    delTree(java.nio.file.Paths.get(stateDir))
    val (_, _, _, _, builtFirst, _) =
      TextOps.loadOrBuildTombstonedPostings(spark, sfDir)
    assert(builtFirst, "fresh dir must trigger an index build")
    val (_, _, _, tomb, builtSecond, _) =
      TextOps.loadOrBuildTombstonedPostings(spark, sfDir)
    assert(!builtSecond, "unchanged corpus must reuse the index")
    assert(tomb.count() > 0, "tombstone list must be non-empty")

    val served = TextOps.bm25Tombstoned(spark, sfDir,
      TextOps.Bm25TombTerms, 10)
    served.collect() // finalize the adaptive plan
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
      }.flatten
    val scans = allScans(served.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no file scans in the serve plan")
    val files = scans.flatMap(_.selectedPartitions.toPartitionArray
      .map(_.filePath.toString))
    assert(files.nonEmpty && files.forall(_.contains(stateDir)),
      "serve path read outside the index state")
    assert(!files.exists(_.contains("documents.parquet")),
      "serve path re-read the corpus")
    // q58-style directory pruning: only the query terms' buckets listed
    val expectedBuckets = {
      import spark.implicits._
      TextOps.Bm25TombTerms.toDF("term")
        .select(pmod(xxhash64(col("term")), lit(TextOps.PostingsBuckets)))
        .distinct().collect().map(_.getLong(0)).toSet
    }
    val touchedBuckets = files.flatMap(
      "term_bucket=(\\d+)".r.findFirstMatchIn(_).map(_.group(1).toLong)).toSet
    assert(touchedBuckets.nonEmpty &&
      touchedBuckets.subsetOf(expectedBuckets),
      s"scan touched buckets $touchedBuckets beyond $expectedBuckets")
    assert(touchedBuckets.size < TextOps.PostingsBuckets,
      "no directory pruning: every bucket was listed")
  }

  // ---------------------------------------------------------------
  // qa0: profiling — planted nulls/dups must land in the right cells
  // ---------------------------------------------------------------

  test("qa0: planted nulls and duplicates land in the right report " +
    "cells; extrema are exact") {
    import spark.implicits._
    val d = Seq(
      (Option(1L), Option("aa")), (Option(2L), Option("bb")),
      (Option(3L), Option("bb")), (Option(4L), None),
      (None, Option("zz")))
      .toDF("k", "v")
    val rep = Relational.profileOf(d, Seq("k", "v"))
    val byCol = rep.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5))).toMap
    assert(byCol("k") == ((5L, 1L, 4L, "1", "4")))
    assert(byCol("v") == ((5L, 1L, 3L, "aa", "zz")))
  }

  test("q9t: a torn state directory (key file missing) is discarded " +
    "and rebuilt wholesale") {
    val (_, _, stateDir) = Relational.loadOrBuildQtState(spark, sfDir)
    // simulate a torn write: state files present, key file gone
    val keyFile = java.nio.file.Paths.get(stateDir, "_graft_index_key")
    java.nio.file.Files.deleteIfExists(keyFile)
    val (_, rebuilt, _) = Relational.loadOrBuildQtState(spark, sfDir)
    assert(rebuilt, "torn state (no key) must trigger a rebuild")
    assert(java.nio.file.Files.exists(keyFile), "rebuild must restore the key")
    val (_, again, _) = Relational.loadOrBuildQtState(spark, sfDir)
    assert(!again, "restored state must be reused")
  }

  // ---------------------------------------------------------------
  // qa1: constraint validation — planted violations must fire
  // ---------------------------------------------------------------

  test("qa1: every declared constraint detects a planted violation") {
    import spark.implicits._
    // clean micro-tables: 2 customers, 2 orders, 2 lineitems
    val c = Seq((1L, "a"), (2L, "b")).toDF("c_custkey", "c_name")
    val o = Seq((10L, Option(1L)), (11L, Option(2L)))
      .toDF("o_orderkey", "o_custkey")
    val li = Seq((10L, 5.0), (11L, 50.0))
      .toDF("l_orderkey", "l_quantity")
    def report(liX: org.apache.spark.sql.DataFrame,
        oX: org.apache.spark.sql.DataFrame,
        cX: org.apache.spark.sql.DataFrame): Map[String, (Long, Boolean)] =
      Relational.constraintChecks(spark, liX, oX, cX).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // clean data: all pass
    assert(report(li, o, c).values.forall { case (n, p) => n == 0L && p })
    // orphan lineitem
    val r1 = report(li.unionAll(Seq((99L, 1.0))
      .toDF("l_orderkey", "l_quantity")), o, c)
    assert(r1("lineitem_fk_orders") == ((1L, false)))
    // out-of-range and null quantity (2 violations)
    val r2 = report(li.unionAll(Seq((10L, 51.0))
        .toDF("l_orderkey", "l_quantity"))
      .unionAll(Seq(10L).toDF("l_orderkey")
        .selectExpr("l_orderkey", "CAST(NULL AS DOUBLE) AS l_quantity")),
      o, c)
    assert(r2("lineitem_qty_range") == ((2L, false)))
    // null custkey breaks completeness (and NOT the FK check — nulls
    // are a completeness concern, not a referential one)
    val r3 = report(li, o.unionAll(Seq(12L).toDF("o_orderkey")
      .selectExpr("o_orderkey", "CAST(NULL AS BIGINT) AS o_custkey")), c)
    assert(r3("orders_custkey_complete") == ((1L, false)))
    // dangling FK
    val r4 = report(li, o.unionAll(Seq((13L, Option(7L)))
      .toDF("o_orderkey", "o_custkey")), c)
    assert(r4("orders_fk_customer") == ((1L, false)))
    // duplicate key
    val r5 = report(li, o.unionAll(Seq((10L, Option(1L)))
      .toDF("o_orderkey", "o_custkey")), c)
    assert(r5("orders_key_unique") == ((1L, false)))
  }

  // ---------------------------------------------------------------
  // q9z: fuzzy join — planted near-duplicates
  // ---------------------------------------------------------------

  test("q9z: planted near-duplicate titles pair at their exact edit " +
    "distance; cross-block pairs never meet") {
    import spark.implicits._
    val docs = Seq(
      (1L, "acme corp inc annual report 2024"),   // base
      (2L, "acme corp llc annual report 2024"),   // lev 2 within prefix-8 block
      (3L, "acme corp inc annual report 2024"),   // exact dup, lev 0
      (4L, "zcme corp inc annual report 2024"),   // edit INSIDE the block → escapes
      (5L, "totally unrelated title here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.fuzzyJoin(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 2L, "near-dup distance wrong")
    assert(pairs((1L, 3L)) == 0L, "exact dup not at distance 0")
    assert(pairs((2L, 3L)) == 2L)
    // the blocking trade, pinned: doc 4 differs in the first 8 chars,
    // so prefix blocking cannot surface it (documented recall cost)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  // ---------------------------------------------------------------
  // q9x: training-batch manifest
  // ---------------------------------------------------------------

  test("q9x: distributed enumeration equals a driver-side total sort " +
    "and plans no global-order window") {
    val ranks = Sampling.manifestRanks(spark, sfDir)
    // no Window with an empty partitionSpec anywhere in the plan — the
    // single-partition sort the two-phase enumeration exists to avoid
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = ranks.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(offenders.isEmpty, "q9x planned a global-order window")

    // independent arm: total order replayed by a plain-Scala sort
    val got = ranks.collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
      .map(id => (md5hex(s"${Sampling.ManifestSeed}|$id"), id))
      .sorted.zipWithIndex
      .map { case ((_, id), i) => id -> (i + 1L) }.toMap
    assert(got == expected,
      "distributed ranks diverged from the total-order replay")
    // ranks are a permutation: exactly 1..n once each
    assert(got.values.toSeq.sorted == (1L to got.size.toLong))
  }

  // ---------------------------------------------------------------
  // q9w: range cardinality from per-day HLL registers
  // ---------------------------------------------------------------

  test("q9w: state reused; range estimates read only stored registers, " +
    "never the event log") {
    val (_, _, stateDir) = Relational.loadOrBuildDailyHll(spark, sfDir)
    delTree(java.nio.file.Paths.get(stateDir))
    val (_, builtFirst, _) = Relational.loadOrBuildDailyHll(spark, sfDir)
    assert(builtFirst, "fresh dir must trigger a state build")
    val (state, builtSecond, _) = Relational.loadOrBuildDailyHll(spark, sfDir)
    assert(!builtSecond, "unchanged log must reuse the registers")
    // state is day-partitioned and day-sized, not event-sized
    val nDays = state.count()
    assert(nDays > 5 && nDays < 100, s"expected ~30 day rows, got $nDays")

    val est = Relational.rangeEstimates(spark, sfDir)
    val rows = est.collect()
    assert(rows.length == 3)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
      }.flatten
    val files = allScans(est.queryExecution.executedPlan)
      .flatMap(_.selectedPartitions.toPartitionArray
        .map(_.filePath.toString))
    assert(files.nonEmpty && files.forall(_.contains(stateDir)),
      "serve path read outside the register state")
    assert(!files.exists(_.contains("events.parquet")),
      "serve path re-read the event log")

    // and the estimates meet the contract vs an independent exact count
    val full = rows.find(_.getLong(0) == 1L).get
    val exactFull = graft.streaming.EventStream
      .readBatch(spark, s"$sfDir/events.parquet")
      .select("user_id").distinct().count()
    assert(math.abs(full.getAs[Long]("est_users") - exactFull)
        <= exactFull * 0.10,
      "full-span estimate outside the 10pct contract")
  }

  // ---------------------------------------------------------------
  // q9v: schema evolution
  // ---------------------------------------------------------------

  test("q9v: merged read null-fills legacy rows and an era predicate " +
    "prunes to one directory") {
    import org.apache.spark.sql.functions._
    val merged = Sampling.evolvedCorpus(spark, sfDir)
    assert(merged.columns.toSet ==
      Set("doc_id", "n_chars", "lang", "era"))
    // null-fill semantics: every pre-evolution row surfaces lang NULL,
    // every v2 row carries it
    assert(merged.filter(col("era") === "v1" && col("lang").isNotNull)
      .isEmpty)
    assert(merged.filter(col("era") === "v2" && col("lang").isNull)
      .isEmpty)
    // the era partition key prunes at the directory level: a v2-only
    // read must select no era=v1 file
    val v2 = merged.filter(col("era") === "v2")
    v2.collect()
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
      }.flatten
    val files = allScans(v2.queryExecution.executedPlan)
      .flatMap(_.selectedPartitions.toPartitionArray
        .map(_.filePath.toString))
    assert(files.nonEmpty && files.forall(_.contains("era=v2")),
      s"era filter did not prune: $files")
  }

  // ---------------------------------------------------------------
  // q8h: Walsh–Hadamard spectral bands
  // ---------------------------------------------------------------

  test("q8h: band energies replay in plain Scala and Parseval holds " +
    "on every asset") {
    val out = graft.SparkEntry.queries("q8h_audio_wht_bands")(spark, sfDir)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Boolean]("parseval_ok")),
      "Parseval energy-conservation contract failed")

    // independent arm: full WHT replay in plain Scala for every asset —
    // byte decode, windowing, coefficients, band energies
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .filter(_.getLong(0) % 3 == 1)
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for (row <- out.take(50)) {
      val id = row.getLong(0)
      val bytes = docs(id).getBytes("UTF-8")
      val smp = (0 until bytes.length / 2).map { i =>
        val v = (bytes(2 * i) & 0xff) | ((bytes(2 * i + 1) & 0xff) << 8)
        if (v > 32767) v - 65536 else v
      }
      val nw = math.min(Multimodal.MaxWhtWindows,
        smp.length / Multimodal.WhtN)
      assert(row.getAs[Int]("n_windows") == nw, s"doc $id window count")
      val bandE = (0 until Multimodal.WhtN).map { k =>
        (0 until nw).map { w =>
          val c = (0 until Multimodal.WhtN).map { j =>
            val sign = if (Integer.bitCount(j & k) % 2 == 0) 1L else -1L
            smp(w * Multimodal.WhtN + j) * sign
          }.sum
          c * c
        }.sum
      }
      // band energies ship as scalar columns since r14 (driver
      // comparator cannot hash arrays)
      val got = (0 until Multimodal.WhtN)
        .map(k => row.getAs[Long](s"band_e$k"))
      assert(got == bandE.toSeq,
        s"doc $id band energies diverged from the Scala replay")
      val dom = bandE.indexOf(bandE.max).toLong
      assert(row.getAs[Long]("dom_band") == dom, s"doc $id dominant band")
    }
  }

  test("q9u: compaction preserves the bucket layout and drops exactly " +
    "the dead rows") {
    import org.apache.spark.sql.functions._
    val (post, compacted, _, tomb, _, _) =
      TextOps.loadOrBuildTombstonedPostings(spark, sfDir)
    // layout: compacted carries the same term_bucket partition column
    assert(compacted.columns.contains("term_bucket"))
    // row accounting: |compacted| = |postings| − |dead postings rows|
    val deadRows = post.join(tomb.select(col("doc_id")), Seq("doc_id"),
      "left_semi").count()
    assert(deadRows > 0, "tombstones must kill at least one postings row")
    assert(compacted.count() == post.count() - deadRows)
    // and no dead doc survives compaction
    assert(compacted.join(tomb.select(col("doc_id")), Seq("doc_id"),
      "left_semi").isEmpty)
  }
}
