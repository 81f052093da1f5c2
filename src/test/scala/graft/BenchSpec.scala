package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's honesty contract: a failing query must surface
  * as `err` — never as a flattering ~0.06s fail-fast time — and any err
  * poisons vs_baseline to JSON null so a partially-broken suite can't
  * read as fast (r11's event family silently fail-fasted and made
  * BENCH_r11 look better than the suite deserved). */
class BenchSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private def ok(s: SparkSession, dir: String): DataFrame =
    s.range(10).toDF("id")

  private def boom(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/no_such_table_ever.parquet")

  test("a throwing query records err=true with no recorded passes") {
    val results = Bench.runSuite(spark, sfDir,
      Seq("q_ok_fast" -> (ok _), "q_bad_boom" -> (boom _)))
    val byName = results.map(q => q.name -> q).toMap
    assert(!byName("q_ok_fast").err)
    assert(byName("q_ok_fast").passes.nonEmpty)
    assert(byName("q_bad_boom").err)
    assert(byName("q_bad_boom").passes.isEmpty,
      "an erred query must not contribute a timed pass")
    assert(byName("q_bad_boom").min == 0.0)
  }

  test("metric line: err_count populated, vs_baseline null, total excludes errs") {
    val results = Bench.runSuite(spark, sfDir,
      Seq("q_ok_fast" -> (ok _), "q_bad_boom" -> (boom _)))
    val line = Bench.metricLine(results, baselinePin = 66.0, loadAvg = 1.0,
      gcTotalSec = 0.1, rssMb = 100, sfDir = sfDir)
    assert(line.contains(""""err_count":1"""), line)
    assert(line.contains(""""vs_baseline":null"""), line)
    // the err NAMES live on the diag line, not the bounded metric line
    assert(Bench.diagLine(results).contains(""""err":["q_bad_boom"]"""))
    // total = the ok query's time only — strictly less than a second
    // here, and definitely not a 66s-scale number
    val total = """"value":([0-9.]+)""".r.findFirstMatchIn(line)
      .get.group(1).toDouble
    assert(total < 5.0, s"total should only include the ok query: $line")
    // the driver json-loads this line verbatim — it must stay valid JSON
    assert(line.startsWith("{") && line.endsWith("}"))
  }

  test("clean suite: no errs, vs_baseline numeric, per-query map on diag") {
    val results = Bench.runSuite(spark, sfDir, Seq("q_ok_fast" -> (ok _)))
    assert(results.forall(!_.err))
    val line = Bench.metricLine(results, 66.0, 1.0, 0.0, 100, sfDir)
    assert(line.contains(""""err_count":0"""), line)
    assert(!line.contains(""""vs_baseline":null"""), line)
    val diag = Bench.diagLine(results)
    assert(diag.contains("bench_diag") && diag.contains(""""queries":{"""))
  }

  test("rescue/suspect policy: consistent-but-slow-vs-committed fires " +
    "(the r19 falsifier), floor and no-entry cases stay quiet") {
    // the r19 failure mode: BOTH min-of-2 passes inflated 3-10x on
    // untouched code, so "consistent = honest" was falsified — the
    // committed BENCH_DETAIL min is the cross-run reference that still
    // catches it. Pure-predicate pins (no wall-clock racing):
    // two CONSISTENT slow passes, 30x the committed min → rescue
    assert(Bench.needsRescue(Seq(3.0, 3.1), Some(0.1)))
    assert(Bench.slowVsCommitted(3.0, Some(0.1)))
    // same reading with no committed entry and no pass disagreement:
    // the legacy trigger alone must NOT fire (consistent passes)
    assert(!Bench.needsRescue(Seq(3.0, 3.1), None))
    // the legacy slow-and-inconsistent trigger still fires without
    // any committed reference
    assert(Bench.needsRescue(Seq(3.0, 6.0), None))
    // absolute floor: 2.5x of a tiny committed min is scheduler
    // jitter, not signal — sub-floor readings never fire
    assert(!Bench.slowVsCommitted(0.4, Some(0.001)))
    assert(!Bench.needsRescue(Seq(0.4, 0.4), Some(0.001)))
    // within-band readings (< 2.5x committed) never fire
    assert(!Bench.slowVsCommitted(1.9, Some(1.0)))
  }

  test("forced inflation through the runner: the rescue pass lands, a " +
    "recovered query is NOT suspect, a persistent one IS and is counted") {
    // integration with generous margins (committed 1.0 → threshold
    // 2.5s; sleeps 3s) so a loaded test box can't flip the outcome:
    // q_laggy's first two invocations simulate the co-tenant spike and
    // its rescue pass runs at real speed; q_stuck stays inflated.
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    def laggy(s: SparkSession, dir: String): DataFrame = {
      if (calls.incrementAndGet() <= 2) Thread.sleep(3000)
      s.range(1).toDF("id")
    }
    def stuck(s: SparkSession, dir: String): DataFrame = {
      Thread.sleep(3000); s.range(1).toDF("id")
    }
    val results = Bench.runSuite(spark, sfDir,
      Seq("q_laggy" -> (laggy _), "q_stuck" -> (stuck _)),
      committedMin = Map("q_laggy" -> 1.0, "q_stuck" -> 1.0))
    val byName = results.map(q => q.name -> q).toMap
    assert(byName("q_laggy").passes.size == 3,
      s"slow-vs-committed must earn a rescue pass: ${byName("q_laggy")}")
    assert(!byName("q_laggy").suspect,
      "a rescued query back under 2.5x committed must not be suspect")
    assert(byName("q_stuck").passes.size == 3)
    assert(byName("q_stuck").suspect,
      "a query still >2.5x committed after rescue must be flagged")
    val line = Bench.metricLine(results, 66.0, 1.0, 0.0, 100, sfDir)
    assert(line.contains(""""suspect_load":1"""), line)
    // both queries earned a third pass — the metric line must say so
    // (a rescue-flattered total self-identifies, r21 verdict ask)
    assert(line.contains(""""rescue_passes":2"""), line)
  }

  test("loadCommittedMins round-trips writeDetail output") {
    val results = Seq(
      Bench.QTime("q_a", Seq(1.5, 1.2), 0.05, err = false),
      Bench.QTime("q_b", Seq(0.3, 0.4, 0.2), 0.0, err = false,
        suspect = true),
      Bench.QTime("q_err", Seq.empty, 0.0, err = true))
    val path = java.nio.file.Files.createTempFile("bench-detail", ".json")
      .toString
    Bench.writeDetail(path, results, 1.0, 0.1, 100, sfDir)
    val mins = Bench.loadCommittedMins(path)
    assert(mins == Map("q_a" -> 1.2, "q_b" -> 0.2),
      s"erred entries must drop out, mins must survive: $mins")
    // a missing file disables the trigger, never the run
    assert(Bench.loadCommittedMins("/no/such/file.json").isEmpty)
  }

  test("metric line stays constant-size: <400 bytes for a 200-query suite") {
    // r13's line grew with the suite (2.5 KB of per-query entries) and
    // scrolled its own head out of the driver's ~2.3 KB stdout tail —
    // parsed:null. The line must not scale with the registry.
    val results = (1 to 200).map(i =>
      Bench.QTime(f"q$i%03d_synthetic_name_of_typical_length", Seq(1.234, 1.456),
        0.05, err = false))
    val line = Bench.metricLine(results, 91.0, 1.0, 12.3, 4096,
      "/root/testdata/sf0.1")
    assert(line.length < 400,
      s"metric line must stay truncation-proof: ${line.length} bytes: $line")
    assert(line.contains(""""n_queries":200"""))
  }
}
