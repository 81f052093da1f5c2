package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-21 OPTIMIZATION-round pins.
  *
  * 1. The de-memoised *_train/resolve queries (q97/q9a/q5a/q48) keep
  *    their stores ONLY for the apply twins: neither their plan nor any
  *    plan run while building them reads a `graft_scratch` store.
  *    Round20OptSpec's store≡fresh pins prove the twins serve the same
  *    answer, and the oracle pins the train queries' own outputs.
  * 2. q9t/q9i plans carry NO unpartitioned Window operator (the r20
  *    verdict's "No Partition Defined" scale-killer sweep).
  * 3. q4c's bucket self-join is a sort-merge join (NOT broadcast), so
  *    its two inputs are identical exchange subtrees that runtime
  *    exchange reuse computes once.
  * 4. qcb's per-layer visited sets are ALREADY (q_id, vec_id)-distinct
  *    — the empirical disproof of the r20 "per-layer pre-distinct"
  *    candidate: the shard key is a pure function of vec_id within
  *    each layer and walkShard dedups per (query, shard), so a
  *    pre-distinct before the candidate union can remove zero rows;
  *    only the cross-layer overlap needs the union's distinct.
  */
class Round21OptSpec extends AnyFunSuite with SparkSuite {

  val sfDir = "/root/testdata/sf0.001"

  test("q97/q9a/q5a/q48 train or resolve per call: no plan they run " +
    "reads a graft_scratch store") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    for (name <- Seq("q97_bpe_train", "q9a_perceptron_train",
        "q5a_kmeans_converge", "q48_dup_clusters")) {
      // the capture sees the checkpoints run during construction; the
      // driver-side training loops collect, which only `executions`
      // sees, over persisted frames, whose scans only the analyzed plan
      // still shows
      val ((df, checkpoints), ran) = graft.SparkEvents.executions(spark)(
        graft.PlanAudit.buildCapturingExecutions(spark,
          () => graft.SparkEntry.queries(name)(spark, sfDir)))
      val reads = (df.queryExecution +: (checkpoints ++ ran))
        .flatMap(qe => Seq(qe.analyzed, qe.optimizedPlan))
        .flatMap(_.collectWithSubqueries {
          case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
            r.location.rootPaths
        }.flatten).distinct
      val stored = reads.filter(p => java.nio.file.Paths.get(p.toUri)
        .normalize.startsWith(Tables.scratchRoot))
      assert(reads.nonEmpty, s"$name: no file scan seen")
      assert(stored.isEmpty, s"$name reads a store: ${stored.mkString(", ")}")
    }
  }

  test("q9t: the materialized quantile plan windows by bucket, never " +
    "by nothing (the r20 single-partition cumsum is gone)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // q9t's result frame is eagerly localCheckpoint'ed, so its OWN
    // plan is a truncated LogicalRDD — the real shape is in the plans
    // materialized during construction (the PlanAudit capture).
    val (_, captured) = graft.PlanAudit.buildCapturingExecutions(spark,
      () => Relational.quantileIncremental(spark, sfDir))
    val wins = captured.flatMap(_.optimizedPlan.collect { case w: LWindow => w })
    assert(wins.nonEmpty, "q9t materialized no window")
    val bare = wins.filter(_.partitionSpec.isEmpty)
    assert(bare.isEmpty,
      "q9t materialized a window with an empty partition spec:\n" +
        bare.map(_.toString).mkString("\n"))
    assert(wins.exists(_.partitionSpec.exists(_.references.exists(_.name == "cb"))),
      "the exact arm's cumsum must window by the cents bucket")
  }

  test("q9i: both rank windows rank limit(k)-bounded pools (the only " +
    "legal unpartitioned-window form, per PlanShapeSpec's rule)") {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Window => LWindow}
    def hasLimitBelow(p: LogicalPlan): Boolean =
      p.collectFirst { case _: GlobalLimit => (); case _: LocalLimit => () }
        .nonEmpty
    val lp = Similarity.hybridRrf(spark, sfDir)
      .queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.size == 2, s"q9i must rank exactly two pools: $wins")
    assert(wins.forall(w => w.partitionSpec.isEmpty),
      "q9i's rank windows are deliberately single-partition (k-row)")
    assert(wins.forall(w => hasLimitBelow(w.child)),
      "every q9i rank window must sit above a Limit — the bound is k, " +
        "not the data")
  }

  test("q4c: bucket self-join plans as sort-merge, never broadcast") {
    val df = Dedup.verbatimSpanPairs(
      Dedup.contentClassReps(Tables.table(spark, sfDir, "documents")))
    val plan = df.queryExecution.sparkPlan
    val smj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    val bhj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(smj.nonEmpty && bhj.isEmpty,
      "the win self-join must sort-merge so both sides share one " +
        "exchange subtree (a broadcast side re-computes the anchor scan)")
  }

  test("qcb: per-layer visited sets are already (q,vec)-distinct " +
    "(pre-distinct before the candidate union is a provable no-op)") {
    val c = Similarity.corpus(spark, sfDir)
    val parts = Similarity.nswPartsAt(spark, sfDir)
    val upN = c.filter(pmod(col("vec_id"), lit(Similarity.HnswStride)) === 0)
      .count()
    val upParts = Similarity.nswPartsFor(upN)
    val q = broadcast(Similarity.queriesOf(c))
    val up = Similarity.hnswUpper(c, upParts)
    val upEntries = up.groupBy(col("pt"))
      .agg(min(col("vec_id")).as("vec_id"))
    val upVisited = Similarity.beamWalk(up,
      Similarity.hnswUpperEdgesStored(spark, sfDir, upParts),
      q, q.select(col("q_id")).crossJoin(upEntries))
    def dupRows(v: org.apache.spark.sql.DataFrame): Long =
      v.count() - v.select(col("q_id"), col("vec_id")).distinct().count()
    assert(dupRows(upVisited) == 0L,
      "upper-layer visited set must already be (q,vec)-distinct")
    val starts = q.select(col("q_id"))
      .crossJoin(Similarity.withPt(c, parts).groupBy(col("pt"))
        .agg(min(col("vec_id")).as("vec_id")))
    val baseVisited = Similarity.beamWalk(Similarity.withPt(c, parts),
      Similarity.nswEdgesStored(spark, sfDir, parts), q, starts,
      Similarity.HnswBaseHops)
    assert(dupRows(baseVisited) == 0L,
      "base-layer visited set must already be (q,vec)-distinct")
    // the cross-layer overlap (upper nodes are base nodes) is the one
    // source of duplicates in the union: its distinct removes exactly
    // the (q,vec) pairs both layers visited, however many this fixture
    // happens to have
    val key = Seq(col("q_id"), col("vec_id"))
    val overlap = upVisited.select(key: _*)
      .join(baseVisited.select(key: _*), Seq("q_id", "vec_id"), "left_semi").count()
    val union = baseVisited.select(col("q_id"), col("vec_id"), col("cos"))
      .unionAll(upVisited.select(col("q_id"), col("vec_id"), col("cos")))
    assert(union.count() - union.distinct().count() == overlap,
      s"the union's distinct must remove exactly the $overlap cross-layer pairs")
  }
}
