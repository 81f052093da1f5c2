package graft.queries

import java.nio.file.{Files, Path}

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The one commit protocol every streaming fold goes through: a fresh
  * version directory holding the tables and the applied-batch ledger,
  * published by an atomic swap of `CURRENT`. These tests pin the
  * protocol on the helper itself, so they cover every fold at once. */
class VersionedStateSpec extends AnyFunSuite with SparkSuite {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Every path under `dir`, relative to it. */
  private def entries(dir: Path): Set[String] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.map(dir.relativize(_).toString).toSet
    finally s.close()
  }

  /** An additive one-table fold over (k, v) rows. */
  private def addFold(dir: String, batchId: Long, add: DataFrame): Unit =
    VersionedState.foldTable(spark, dir, batchId, "t") {
      case Some(prev) =>
        prev.unionAll(add).groupBy(col("k")).agg(sum(col("v")).as("v"))
      case None => add
    }

  private def state(dir: String): Map[Long, Long] = spark.read
    .parquet(VersionedState.tablePath(dir, "t").get.toString)
    .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("VersionedState.commit is idempotent for an already-applied " +
    "batchId (API misuse must not throw after the write work)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("vstate-idem").toString
    def writeTable(vdir: java.nio.file.Path): Unit =
      Seq((1L, 10L)).toDF("k", "v")
        .coalesce(1).write.parquet(vdir.resolve("t").toString)
    VersionedState.commit(dir, 7L)(writeTable)
    assert(VersionedState.applied(dir, 7L))
    // the r15 advice: re-committing batch 7 carried the existing
    // _applied-7 marker into the new version dir and createFile threw
    // FileAlreadyExistsException AFTER the parquet write
    VersionedState.commit(dir, 7L)(writeTable)
    assert(VersionedState.applied(dir, 7L))
    val live = VersionedState.tablePath(dir, "t")
    assert(live.nonEmpty)
    assert(spark.read.parquet(live.get.toString).count() == 1)
  }

  test("a CURRENT naming a missing version fails loudly instead of " +
    "restarting the state from the next batch") {
    import spark.implicits._
    val dir = tmpDir("vstate-dangling")
    addFold(dir, 0L, Seq((1L, 10L)).toDF("k", "v"))
    val live = VersionedState.current(dir).get
    Tables.deleteRecursively(live.toFile)
    val e = intercept[IllegalArgumentException](VersionedState.current(dir))
    assert(e.getMessage.contains(dir) &&
      e.getMessage.contains(live.getFileName.toString),
      s"message names neither the state dir nor the version: $e")
    intercept[IllegalArgumentException](
      VersionedState.foldTable(spark, dir, 1L, "t")(_ =>
        fail("the fold ran over a dangling CURRENT")))
  }

  test("a fold whose write throws publishes nothing, and its retry " +
    "equals a clean fold") {
    import spark.implicits._
    val b0 = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val b1 = Seq((2L, 5L), (3L, 7L)).toDF("k", "v")
    val dir = tmpDir("vstate-torn")
    addFold(dir, 0L, b0)
    val live = VersionedState.current(dir).get
    val liveEntries = entries(live)
    val liveState = state(dir)

    // the new frame throws only when the write job evaluates it
    val failing = b1.select(col("k"),
      coalesce(raise_error(lit("fold write fails")).cast("long"), col("v"))
        .as("v"))
    val e = intercept[Exception](addFold(dir, 1L, failing))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("fold write fails")),
      s"unexpected failure: $e")
    assert(VersionedState.current(dir).get == live,
      "a failed fold moved CURRENT")
    assert(entries(live) == liveEntries,
      "a failed fold changed the live version's tables or ledger")
    assert(state(dir) == liveState)
    assert(VersionedState.applied(dir, 0L) &&
      !VersionedState.applied(dir, 1L),
      "a failed fold changed the ledger")

    // the retry folds the batch exactly once, like a fold that never
    // failed, and collects the failed attempt's orphan version
    addFold(dir, 1L, b1)
    val clean = tmpDir("vstate-clean")
    addFold(clean, 0L, b0)
    addFold(clean, 1L, b1)
    assert(state(dir) == state(clean) &&
      state(dir) == Map(1L -> 10L, 2L -> 25L, 3L -> 7L))
    def ledger(d: String) = entries(VersionedState.current(d).get)
      .filter(_.startsWith("_applied-"))
    assert(ledger(dir) == ledger(clean) &&
      ledger(dir) == Set("_applied-0", "_applied-1"))
    assert(entries(java.nio.file.Paths.get(dir))
      .count(n => n.startsWith("v-") && !n.contains("/")) == 1,
      "the failed attempt's version directory was not collected")
  }
}
