package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r16 sharded NSW walk must be SEMANTICALLY IDENTICAL to the
  * declarative per-hop plan it replaced — same visited set, same
  * rounded cosines — on both start shapes the engine uses (qb6's
  * all-shard serve starts and qb7's one-shard attach starts). The
  * DuckDB oracle gates the same equivalence end-to-end; this spec
  * pins it at the walk level so a drift in the imperative arithmetic
  * (rounding mode, beam order, dedup) fails fast with a named cause. */
class NswWalkSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private def visitedSet(df: org.apache.spark.sql.DataFrame) = df
    .select(col("q_id").cast("long"), col("pt").cast("long"),
      col("vec_id").cast("long"), col("cos"))
    .distinct().collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    .toSet

  test("sharded walk == declarative walk on qb6's all-shard starts") {
    val parts = Similarity.nswPartsAt(spark, sfDir)
    val c = Similarity.corpus(spark, sfDir)
    val p = Similarity.withPt(c, parts)
    val edges = Similarity.nswEdgesOn(c, parts).localCheckpoint(true)
    val q = Similarity.queriesOf(c)
    val entries = p.groupBy(col("pt"))
      .agg(min(col("vec_id")).as("vec_id"))
    val starts = q.select(col("q_id")).crossJoin(entries)
    val fused = visitedSet(Similarity.beamWalk(p, edges, q, starts))
    val decl =
      visitedSet(Similarity.beamWalkDeclarative(p, edges, q, starts))
    assert(fused.nonEmpty)
    assert(fused == decl,
      s"walks diverged: fused-only=${(fused -- decl).take(3)} " +
        s"decl-only=${(decl -- fused).take(3)}")
  }

  test("sharded walk == declarative walk on qb7's attach starts " +
    "(one shard per query, delta query set)") {
    val parts = Similarity.nswPartsAt(spark, sfDir)
    val c = Similarity.corpus(spark, sfDir)
    val base = Similarity.withPt(Similarity.nswBase(c), parts)
    val edges = Similarity.nswEdgesOn(Similarity.nswBase(c), parts)
      .localCheckpoint(true)
    val dq = Similarity.withPt(Similarity.nswDelta(c), parts)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("pt").as("q_pt"))
    val entB = base.groupBy(col("pt"))
      .agg(min(col("vec_id")).as("vec_id"))
    val starts = dq.select(col("q_id"), col("q_pt").as("pt"))
      .join(entB, Seq("pt"))
    val qs = dq.select(col("q_id"), col("qv"), col("qn"))
    val fused = visitedSet(Similarity.beamWalk(base, edges, qs, starts))
    val decl =
      visitedSet(Similarity.beamWalkDeclarative(base, edges, qs, starts))
    assert(fused.nonEmpty)
    assert(fused == decl,
      s"attach walks diverged: fused-only=${(fused -- decl).take(3)} " +
        s"decl-only=${(decl -- fused).take(3)}")
  }
}
