package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** SCALING.md's plan claims as enforced invariants, not prose: pushdown
  * reaches the scan, dimensions broadcast, windows don't re-sort, dead
  * columns don't ride exchanges. A Spark upgrade or refactor that
  * silently degrades a plan shape fails here before it costs anything
  * at scale. (PLANS.md is the committed human-readable artifact; this
  * spec is the regression gate.)
  */
class PlanShapeSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  /** Every registered query (minus `exempt` and the eager defs) whose
    * optimized plan satisfies `bad`. A query that fails to construct or
    * plan is reported with its exception message and the sweep goes on,
    * so one broken query cannot hide the rest. */
  private def registryOffenders(exempt: Set[String])(
      bad: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan => Boolean)
      : Seq[String] =
    graft.SparkEntry.allDefs
      .filterNot(d => exempt(d.name) || PlanShapeSpec.EagerDefs(d.name))
      .flatMap { d =>
        scala.util.Try(d.fn(spark, sfDir).queryExecution.optimizedPlan) match {
          case scala.util.Success(lp) => if (bad(lp)) Seq(d.name) else Nil
          case scala.util.Failure(e) => Seq(s"${d.name} (failed: ${e.getMessage})")
        }
      }

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(FormattedMode)

  test("q02: filter and projection reach the parquet scan") {
    val p = plan("q02_filter_topn")
    assert(p.contains("PushedFilters: ["), "no filter pushdown at the scan")
    // projection pruning: the lineitem scan must not read all 16 columns
    // count top-level fields by ':' — splitting on ',' would miscount
    // parameterized types like decimal(12,2)
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty &&
      readSchemas.forall(_.count(_ == ':') <= 8),
      s"scan reads an unpruned schema: $readSchemas")
  }

  test("q06: star dimensions broadcast — no shuffle join anywhere") {
    val p = plan("q06_star_broadcast")
    assert(p.contains("BroadcastHashJoin"), "expected broadcast joins")
    assert(!p.contains("SortMergeJoin"),
      "a dimension fell back to a shuffle join")
  }

  test("q39: decontamination filters the corpus with a broadcast semi-join") {
    val p = plan("q39_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "benchmark n-gram set is not a broadcast left-semi filter")
  }

  test("q65: bounded-key filter is pushed to the events scan") {
    val p = plan("q65_scd2_intervals")
    assert(p.contains("LessThan(user_id,20)"),
      "user_id bound did not reach PushedFilters")
  }

  test("q66: both stage windows share ONE sort on one user_id exchange") {
    val p = plan("q66_funnel")
    val sorts = "\\(\\d+\\) Sort".r.findAllIn(p).size
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(userExchanges == 1,
      s"expected exactly 1 user_id exchange, found $userExchanges")
    assert(sorts == 1,
      s"expected the stacked windows to share 1 sort, found $sorts")
  }

  test("q90: packing windows per shard — no global single-partition window") {
    val p = plan("q90_sequence_packing")
    assert(p.contains("hashpartitioning(shard"),
      "running-sum window is not partitioned by shard")
    assert(!p.contains("SinglePartition, ENSURE_REQUIREMENTS"),
      "a global single-partition exchange crept into the packing plan")
  }

  test("q79 layout: 2-D predicate skips row groups via min/max stats") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    // build the z-ordered layout (writes the q79 scratch dir)
    graft.SparkEntry.queries("q79_zorder_layout")(spark, sfDir).collect()
    val zdir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_scratch", "q79_zorder").toString
    def scanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }
        .map(_.metrics("numOutputRows").value).sum
    }
    val pred = col("l_partkey") <= 20 && col("l_suppkey") <= 2
    val zHits = spark.read.parquet(zdir).filter(pred)
      .select(col("l_orderkey")).collect().map(_.getLong(0)).sorted
    val rawDf = spark.read.parquet(s"$sfDir/lineitem.parquet").filter(pred)
    val rawHits = rawDf.select(col("l_orderkey")).collect().map(_.getLong(0)).sorted
    assert(zHits.sameElements(rawHits), "z-ordered read changed the answer")
    val total = spark.read.parquet(zdir).count()
    val zScan = scanned(spark.read.parquet(zdir).filter(pred))
    // the point of the layout: because files carry disjoint z-ranges,
    // BOTH interleaved columns have narrow per-file min/max, so the
    // parquet reader drops most row groups before materializing a row.
    // The unsorted source file has full-range stats and can skip nothing.
    assert(zScan < total / 2,
      s"z-ordered scan materialized $zScan of $total rows — no skipping")
    val rawScan = scanned(rawDf)
    assert(zScan < rawScan,
      s"z-layout ($zScan rows) should scan fewer rows than the unsorted " +
        s"source ($rawScan)")
  }

  test("q55: PQ encode plans the partial-agg argmin — no window anywhere") {
    val p = plan("q55_pq_assign")
    assert(!p.contains("Window"),
      "q55 should encode via min(struct) partial aggregation, not a " +
        "row_number window (per-partition sort + exchange for an argmin)")
  }

  test("q52: cell assignment is map-side literal argmin — no window, " +
    "no corpus shuffle before the k-row aggregate") {
    val p = plan("q52_ivf_assign")
    assert(!p.contains("Window"),
      "assignment regressed to a row_number window (corpus shuffle)")
    // the only shuffles left: the 8-cell aggregate's and the final
    // orderBy's (formatted text repeats each operator in the detail
    // section — count numbered operator lines, not substrings)
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"assignment plan shuffles $exchanges times; expected the cell " +
        "aggregate + output sort only")
  }

  test("qc0: native top-k plans partial+final ObjectHashAggregate — " +
    "no window, no corpus sort") {
    val p = plan("qc0_skew_topk_native")
    assert(!p.contains("Window"),
      "qc0 regressed to a row_number window — the single-reducer sort " +
        "per key the bounded aggregate exists to avoid")
    assert(p.contains("partial_topk_pairs"),
      "no map-side partial aggregation: the shuffle would carry row " +
        "sets instead of k-bounded buffers")
    val oha = "(?m)^\\(\\d+\\) ObjectHashAggregate".r.findAllIn(p).length
    assert(oha >= 2, s"expected partial+final ObjectHashAggregate, got $oha")
  }

  test("qc1: salted top-k is two bounded aggregations — no window") {
    val p = plan("qc1_skew_topk_salted")
    assert(!p.contains("Window"),
      "qc1 regressed to a window sort; the salted phases must stay " +
        "plain aggregations")
    val hashAggs = "(?m)^\\(\\d+\\) (Object)?HashAggregate".r
      .findAllIn(p).length
    assert(hashAggs >= 4, // (partial+final) × two phases
      s"expected two two-stage aggregations, got $hashAggs aggregate nodes")
  }

  test("qc2: bloom probe filters the fact below a real shuffle join") {
    val p = plan("qc2_bloom_join_reduction")
    assert(p.contains("SortMergeJoin"),
      "the merge hint was lost — a broadcast join would fake the " +
        "reduction demonstration (bloom-join matters when the build " +
        "side's rows don't broadcast)")
    assert(!p.contains("BroadcastHashJoin"),
      "probe side joined by broadcast; the bloom filter must be what " +
        "reduces the exchange, not a broadcast join")
    assert(p.contains("element_at"),
      "no bloom bit-test filter in the plan — the probe side ships " +
        "unreduced through the exchange")
  }

  test("qc3: salted join replicates the dim and merges on (key, salt)") {
    val p = plan("qc3_skew_join_salted")
    assert(p.contains("SortMergeJoin"),
      "the merge hint was lost — the replicated join must be a real " +
        "shuffle join (at corpus scale the dim does not broadcast)")
    assert(p.contains("BroadcastHashJoin"),
      "the |keys|-row stats attach should broadcast — only the " +
        "frequency frame is small enough to ship")
    assert(p.contains("Generate"),
      "no explode in the plan — the dim side is not being replicated " +
        "per salt bucket")
    assert(!p.contains("Window"), "qc3 must not fall back to a window")
  }

  test("qc5: serve reads the stored base sketch, delta filtered, no window") {
    val p = plan("qc5_heavy_hitters_incremental")
    assert(p.contains("qc5_mg_"),
      "serve plan has no scan of the stored base sketch — the base " +
        "stream is being re-sketched instead of read back")
    assert(p.contains("(event_id#") || p.contains("pmod"),
      "no delta predicate visible — the serve-side sketch must scan " +
        "only the delta slice")
    assert(!p.contains("Window"),
      "qc5's merge must stay aggregate+arithmetic — the (k+1)-th " +
        "largest comes from topk_pairs, not a window rank")
  }

  test("qc6: covariance pairs via generators, no join on the big side") {
    val p = plan("qc6_feature_covariance")
    val gens = "(?m)^\\(\\d+\\) Generate".r.findAllIn(p).length
    assert(gens >= 2,
      s"expected two chained posexplodes to build the pair grid, got " +
        s"$gens Generate nodes")
    assert(!p.contains("SortMergeJoin"),
      "the centering sums must broadcast onto the 2,080-row pair " +
        "grid — a shuffle join here means the flattened corpus is " +
        "being joined instead")
    assert(!p.contains("Window"), "qc6 must not fall back to a window")
  }

  test("qc4: the MG sketch aggregates partial+final, no window sort") {
    val p = plan("qc4_heavy_hitters")
    val oha = "(?m)^\\(\\d+\\) ObjectHashAggregate".r.findAllIn(p).length
    assert(oha >= 2,
      s"expected partial+final ObjectHashAggregate for mg_sketch, got " +
        s"$oha — a single-stage plan would ship raw items, not " +
        "k-bounded counter maps, through the shuffle")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row sketch should broadcast-cross onto the exact arm")
    assert(!p.contains("Window"), "qc4 must not fall back to a window")
  }

  test("qch: the Aho-Corasick walk is one narrow scan — the output " +
    "sort's exchange and nothing else") {
    val p = plan("qch_phrase_lexicon")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"qch shuffles $exchanges times; the automaton gate is a per-row " +
        "projection — only the output sort may exchange")
    assert(!p.contains("Join"), "qch must not join — the fixture table " +
      "and lexicon are plan literals")
    assert(!p.contains("HashAggregate") && !p.contains("Window"),
      "qch must not aggregate or window — everything is per-row")
  }

  test("qci: the 4-stage hygiene pipeline fuses into one projection " +
    "chain — zero mid-plan exchanges, no join/agg/window") {
    val p = plan("qci_hygiene_pipeline")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"qci shuffles $exchanges times; repair → NFC → repetition → " +
        "lexicon must stay fused in the projection — only the output " +
        "sort may exchange")
    assert(!p.contains("Join"),
      "qci must not join — the fixture plant is a literal array lookup")
    assert(!p.contains("HashAggregate") && !p.contains("Window"),
      "qci must not aggregate or window — all four stages are per-row")
    // structural pin: the tree is Scan → Project chain → Exchange →
    // Sort and NOTHING else (the HOF lambdas keep the projections on
    // the interpreted path, as in qcc/qcf — the fusion claim is the
    // single chain, not codegen)
    val kinds = "(?m)^\\(\\d+\\) ([A-Za-z]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    val allowed = Set("Scan", "Project", "Exchange", "Sort",
      "AdaptiveSparkPlan", "ColumnarToRow", "WholeStageCodegen")
    assert((kinds -- allowed).isEmpty,
      s"unexpected plan nodes in the fused chain: ${kinds -- allowed}")
  }

  test("qcj: phrase redaction is one narrow scan — zero mid-plan " +
    "exchanges, no join/agg/window") {
    val p = plan("qcj_phrase_redact")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"qcj shuffles $exchanges times; the redaction expression must " +
        "ride the scan's projection — only the output sort may exchange")
    assert(!p.contains("Join"),
      "qcj must not join — the automaton and tags are plan literals")
    assert(!p.contains("HashAggregate") && !p.contains("Window"),
      "qcj must not aggregate or window — redaction is per-row")
  }

  test("q9l: weighted top-k plans TakeOrderedAndProject, no global sort") {
    val p = plan("q9l_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "A-ES top-k materialized a global sort instead of per-partition " +
        "top-k states")
    assert(!p.contains("Exchange rangepartitioning"),
      "weighted sample range-shuffled the corpus")
  }

  test("q9j: pagerank iterations never fall back to a cartesian join") {
    // releaseCaches=false: the registered form localCheckpoints its
    // bounded result (cache hygiene), which truncates the plan — audit
    // the lazy form
    val p = GraphOps.pagerank(spark, sfDir, releaseCaches = false)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct"),
      "an iteration's rank join planned a cartesian product")
    // the contribution aggregate must combine map-side every round:
    // one partial HashAggregate per iteration's shuffle
    assert(p.contains("HashAggregate"),
      "contribution sum lost hash aggregation")
  }

  test("no registered query plans an unbounded single-partition window") {
    // A window with an empty partitionSpec exchanges its whole input to
    // ONE partition — the classic silent scale-killer. Allowed only when
    // the input is provably bounded: below a Limit (q94's 20-row rank)
    // or behind a constant-range filter with inherently-global semantics
    // (q1c's ntile over o_custkey < 100 — documented there).
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Window => LWindow}
    // qb5's one empty-partition window runs over the per-score
    // histogram aggregate (|distinct integer scores| rows — model-
    // sized by construction), not the corpus
    val exempt = Set("q1c_window_analytics", "qb5_classifier_auc")
    def hasLimitBelow(p: LogicalPlan): Boolean =
      p.collectFirst { case _: GlobalLimit => (); case _: LocalLimit => () }.nonEmpty
    val offenders = registryOffenders(exempt)(_.exists {
      case w: LWindow => w.partitionSpec.isEmpty && !hasLimitBelow(w.child)
      case _ => false
    })
    assert(offenders.isEmpty,
      s"unpartitioned, unbounded Window in: ${offenders.mkString(", ")}")
  }

  test("no registered query evaluates a codec expression inside a " +
    "Filter node (the decode-once rule)") {
    // r13 found q8h/q84/q8c/q8i running their full encode+decode chain
    // in BOTH Filter and Project: a guard on the decoded output gets
    // inferred into the pushed filter and the optimizer happily
    // evaluates the codec twice per row. The fix is an exact byte-
    // length precondition BEFORE the codec; this gate keeps the next
    // decoded-output guard from reintroducing the double decode.
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val codecPrefixes = Seq("wav_", "bmp_", "avi_", "png_", "jpeg_")
    val offenders = registryOffenders(Set.empty)(_.exists {
      case f: Filter => f.condition.exists {
        case c: graft.expressions.StaticCall =>
          codecPrefixes.exists(c.sig.name.startsWith)
        case _ => false
      }
      case _ => false
    })
    assert(offenders.isEmpty,
      s"codec decode inside a Filter in: ${offenders.mkString(", ")}")
  }

  test("q68: range join is an equi join with a range residual — no cartesian") {
    val p = plan("q68_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "range predicate planned as a nested-loop/cartesian join — the " +
        "user_id equi key was not extracted")
    assert(p.contains("Join"), "expected a join in the plan")
  }

  test("q59: top-2-cell blocking is map-side — no window before the bucket join") {
    // the SemDeDup blocking must be a projection (inlined codebook,
    // sorted struct array, slice), not a row_number window: a window
    // would shuffle the whole corpus BY vec_id before the cell join
    // shuffles it again by cell
    val p = plan("q59_semantic_dedup")
    assert(!p.contains("Window"),
      "q59 blocking fell back to a window — the corpus now shuffles twice")
  }

  test("q98: BM25 serve path — broadcast df, top-k without a global sort") {
    val p = plan("q98_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k materialized a global sort instead of TakeOrderedAndProject")
    assert(p.contains("BroadcastHashJoin"),
      "the ≤|query|-row df side did not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a bounded side fell back to a shuffle join")
    // the query-term filter must run BELOW every aggregate: the only
    // corpus-side work is scan → explode → filter, never a full
    // postings build (checked structurally — formatted text prints the
    // tree top-down, so string positions invert execution order)
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter}
    val lp = graft.SparkEntry.queries("q98_bm25_topk")(spark, sfDir)
      .queryExecution.optimizedPlan
    val inFilters = lp.collect {
      case f: LFilter if f.condition.exists {
        case _: In | _: InSet => true; case _ => false } => f
    }
    assert(inFilters.nonEmpty, "query-term IN filter vanished from the plan")
    // and the corpus side below it is pure scan → explode: no aggregate
    // ever runs on unfiltered terms
    assert(inFilters.forall(f =>
      f.child.collect { case a: Aggregate => a }.isEmpty),
      "an aggregate runs below the query-term filter — a full postings " +
        "build snuck in")
  }

  test("q6b: the CDC fold's user bound is pushed to the events scan") {
    val p = plan("q6b_scd2_cdc")
    assert(p.contains("LessThan(user_id,20)"),
      "user_id bound did not reach PushedFilters through the typed fold")
  }

  test("PLANS.md: every headline section audits real work — a bare " +
    "ExistingRDD scan must carry captured construction plans") {
    // the r14 blind spot: a checkpoint-terminated query's visible plan
    // is just the scan of the materialized RDD, so its PLANS.md entry
    // showed no work. PlanAudit now captures the checkpointed
    // computations via a QueryExecutionListener; this gates the
    // COMMITTED artifact — regenerate with
    //   sbt "runMain graft.PlanAudit /root/testdata/sf0.01 PLANS.md"
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("PLANS.md"))
    assert(!text.contains("AUDIT BLIND"),
      "PLANS.md carries a blind (checkpoint-terminated, uncaptured) entry")
    val sections = text.split("\n## ").drop(1)
    val names = sections.map(_.linesIterator.next().trim).toSet
    graft.PlanAudit.Headline.foreach(n =>
      assert(names.contains(n), s"PLANS.md is stale: missing $n"))
    sections.foreach { sec =>
      val name = sec.linesIterator.next().trim
      val blocks = "(?s)```\n(.*?)```".r.findAllMatchIn(sec)
        .map(_.group(1)).toSeq
      assert(blocks.nonEmpty, s"$name: no plan block")
      if (graft.PlanAudit.isBareRddScan(blocks.head))
        assert(blocks.tail.exists(b => !graft.PlanAudit.isBareRddScan(b)),
          s"$name: bare Scan ExistingRDD with no captured construction plan")
    }
  }

  test("q52: dead embedding column does not ride the argmax exchange") {
    val p = plan("q52_ivf_assign")
    val exchangeInputs = "\\(\\d+\\) Exchange\\nInput \\[\\d+\\]: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchangeInputs.nonEmpty)
    // boundary-aware: " v#" alone would miss v# as the FIRST list entry
    val vCol = "(^|[\\[, ])v#".r
    assert(!exchangeInputs.exists(in => vCol.findFirstIn(in).isDefined),
      s"the 64-float vector column is shuffled where only (cell, cosine) " +
        s"are needed: $exchangeInputs")
  }
}

object PlanShapeSpec {
  /** Eagerly-materializing defs (e2e writes, LSH checkpoints, CC
    * rounds, stored-index builds with merge-vs-rebuild require()s,
    * bounded driver-side report collects): building them just to look
    * at a plan would re-run whole pipelines; each is plan-audited in
    * its own spec instead. Shared by every registry-wide plan gate. */
  val EagerDefs: Set[String] = Set(
    "q42_minhash_lsh", "q43_simhash", "q46_minhash_fixture",
    "q47_simhash_fixture", "q48_dup_clusters", "q4a_dedup_apply",
    "q73_onekg_e2e",
    "q74_gtex_e2e", "q77_partitioned_scan", "q78_compaction",
    "q79_zorder_layout", "q58_ivfpq_partitioned", "q7a_bucketed_join",
    // r12: q9j runs a localCheckpoint job, q9n/q9p execute full state
    // build + merge-vs-rebuild require() comparisons; q9j's lazy form
    // is window-audited in its own test, the others in Round12OpsSpec
    "q9j_pagerank", "q9n_ivf_incremental", "q9p_feature_moments",
    // r13: q9t/q9u execute state build + merge-vs-rebuild require()s
    // in their fn; q9t's two windows are histogram-sized by
    // construction — covered in Round13OpsSpec
    "q9t_quantile_incremental", "q9u_tombstone_purge",
    // q9v writes the two-era layout before its mergeSchema read;
    // q9w builds/collects its per-day register state
    "q9v_schema_evolution", "q9w_range_cardinality",
    // q9x localCheckpoints its range-partitioned frame for the
    // two-pass enumeration (no-global-window asserted in Round13OpsSpec)
    "q9x_batch_manifest",
    // q7c writes/merges the z-layout inside its fn (q79's family);
    // qa0/qa1 collect their bounded report scalars driver-side
    "q7c_zorder_incremental", "qa0_profile", "qa1_constraints",
    "qa2_snapshot_drift",
    // r14: q5b/q5f serve the content-addressed exact-top-k store and
    // run driver-side recall require()s; qa5's kernel collects its
    // class-level suppression scalar; qa2-style bounded collects
    "q5b_ann_recall", "q5f_ann_recall_partitioned",
    // qa7 builds its per-batch partial state (and, on the build run
    // only, checks serve ≡ rebuild distributed) inside fn
    "qa7_k_anonymity_incremental",
    // qb6/qb7 build/load stored navigable graphs, checkpoint beam
    // frontiers, and run driver-side recall require()s in fn
    "qb6_graph_ann", "qb7_graph_ann_incremental",
    // qb2 reads the stored Lloyd grid (bounded collects; the loop
    // itself runs on the store-build run only since r20) and a
    // driver-side recall require() inside fn
    "qb2_ann_recall_trained",
    // qb4 builds stored CC state (and, on the build run only, checks
    // merge ≡ rebuild distributed) inside fn
    "qb4_cc_incremental")
}
