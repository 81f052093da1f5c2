package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

/** Shared ETL-job helpers. */
object Etl {

  /** Await EVERY future — success or failure — then rethrow the first
    * failure. `Await(Future.sequence(...))` fails fast instead, which
    * would return control (and the output directory) to the caller
    * while sibling sink jobs are still writing into it; draining all
    * outcomes first guarantees no orphaned write survives the call. */
  def awaitAll(fs: Seq[Future[_]])(implicit ec: ExecutionContext): Unit = {
    val settled: Seq[Try[Any]] =
      Await.result(
        Future.sequence(fs.map(_.transform(t => Success(t)))), Duration.Inf)
    settled.collectFirst { case Failure(e) => throw e }
    ()
  }

  /** Group membership (J1/J3 + A5): the non-null `sample_id`s present in
    * both `a` and `b` (either side may repeat an id), as ONE row whose
    * `member` is the sorted array of `{entity: {reference: ref(id)}}`.
    *
    * Plan: the two id columns are tag-unioned and gathered by one
    * single-partition exchange; in that partition a `groupBy(sample_id)`
    * keeps the ids tagged by both sides and the global collect builds
    * the array. No join, no `distinct`, no second exchange. */
  def groupMembers(a: DataFrame, b: DataFrame)(ref: Column => Column): DataFrame =
    a.select(col("sample_id"), lit(1).as("side"))
      .unionByName(b.select(col("sample_id"), lit(2).as("side")))
      .filter(col("sample_id").isNotNull)
      .repartition(1)
      .groupBy(col("sample_id"))
      .agg(bit_or(col("side")).as("sides"))
      .filter(col("sides") === 3)
      .agg(sort_array(collect_list(struct(
        struct(ref(col("sample_id")).as("reference")).as("entity"))))
        .as("member"))
}
