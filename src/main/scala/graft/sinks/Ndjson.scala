package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.rdd.UnionRDD
import org.apache.spark.sql.{DataFrame, GraftFrames, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** NDJSON sinks — the reference's native output format: one JSON object
  * per line, one `<ResourceType>.ndjson` file per type
  * (`fhir_etl/oneKgenomes/oneKg_fhirizer.py:49-62`,
  * `fhir_etl/utils.py:101-135`).
  *
  * Null-dropping on write reproduces the reference's recursive
  * empty-pruning for the null case; empty structs are never constructed
  * upstream (guarantee-by-construction, SURVEY §7.5 item 3).
  *
  * Lines are serialized inside Catalyst ([[jsonLines]]): the JSON
  * generator writes straight from the internal row, with no
  * `Dataset.toJSON` round trip through external `Row`s.
  *
  * One write job per project: [[writeAll]] writes every fresh per-type
  * file of a project with ONE Spark write, whose task i writes frame i
  * (each frame `coalesce(1)`'d), so the types write in parallel tasks of
  * one stage. The frames are joined at the RDD level (`UnionRDD` over
  * each frame's `queryExecution.toRdd`, which concatenates partitions),
  * NOT with `Dataset.union`: a union of `SinglePartition` children is
  * itself `SinglePartition` (`spark.sql.unionOutputPartitioning`), and
  * its partition zips every child into one, i.e. all types in one file.
  *
  * Scale note: golden-compat single-file output forces one write task
  * per file. `coalesce(1)` is narrow, so a frame's whole upstream (scan,
  * transform, serialization) runs inside its one task;
  * [[createOrExtend]] gathers its lines with one single-partition
  * exchange (its plan is described there). Either way the serial part
  * handles the rows of the one file it writes, as any "collect results
  * to one artifact" sink does. For engine-internal storage the parquet
  * sink (K4) is the scalable path; this sink exists for
  * reference-format interchange.
  */
object Ndjson {

  /** K1/K2: overwrite-write df as `<dir>/<resourceType>.ndjson`. */
  def write(df: DataFrame, dir: String, resourceType: String): Unit =
    writeAll(dir, Seq(resourceType -> df))

  /** K1/K2 for a whole project: overwrite-write each `(type, frame)` as
    * `<dir>/<type>.ndjson`, all in one Spark write job. A frame with no
    * rows gives an empty file. If any frame fails, no file is published. */
  def writeAll(dir: String, frames: Seq[(String, DataFrame)]): Unit =
    publish(frames.map { case (t, df) =>
      Paths.get(dir, s"$t.ndjson") -> jsonLines(df).coalesce(1) })

  /** One `line` column holding each row of `df` as a JSON object: the
    * bytes `df.toJSON` produces (same default options, so null fields
    * are dropped), built by `to_json` over a struct of every column. */
  private def jsonLines(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toSeq.map(c =>
      col("`" + c.replace("`", "``") + "`")): _*)).as("line"))

  /** Publish one-partition frames of lines, frame i as target i: one
    * Spark write into a fresh temp dir (several frames are concatenated
    * partition by partition, so part i holds frame i), then each part
    * file is moved over its target. Spark writes no part file for an
    * empty partition other than the first; such a target gets an empty
    * file. The temp dir is deleted whether or not the write succeeded. */
  private def publish(files: Seq[(Path, DataFrame)]): Unit = {
    require(files.nonEmpty && files.map(_._1).distinct.size == files.size,
      s"NDJSON targets must be distinct and non-empty: ${files.map(_._1)}")
    val tmp = Files.createTempDirectory("ndjson")
    try {
      val out = tmp.resolve("out")
      val lines = files match {
        // one frame is written as it is, so the write's plan is its whole
        // query: exchanges and SQL metrics stay visible there
        case Seq((_, one)) => one
        case _ =>
          val spark = files.head._2.sparkSession
          // `coalesce(1)` plans exactly one partition, even over an empty
          // input; any other count would shift every later part
          val rdds = files.map { case (target, df) =>
            val rdd = df.queryExecution.toRdd
            require(rdd.getNumPartitions == 1,
              s"$target: ${rdd.getNumPartitions} partitions, expected 1")
            rdd
          }
          GraftFrames.ofInternalRows(spark,
            new UnionRDD(spark.sparkContext, rdds), files.head._2.schema)
      }
      lines.write.mode(SaveMode.Overwrite).text(out.toString)
      val s = Files.list(out)
      val parts = try s.iterator.asScala.toList finally s.close()
      for (((target, _), i) <- files.zipWithIndex) {
        Files.createDirectories(target.getParent)
        parts.find(_.getFileName.toString.startsWith(f"part-$i%05d-")) match {
          case Some(part) =>
            Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
          case None => Files.write(target, Array.emptyByteArray)
        }
      }
    } finally graft.queries.Tables.deleteRecursively(tmp.toFile)
  }

  /** K3: `create_or_extend` (`fhir_etl/utils.py:101-135`) — upsert new
    * resources into an existing NDJSON file by id.
    *
    * Faithful semantics, fully distributed and schema-free (lines are
    * carried verbatim, ids extracted with get_json_object):
    *  - id not present        → append (new-batch order)
    *  - id present            → keep existing unless updateExisting
    *  - duplicate id within a batch → last occurrence wins (dict-build)
    *  - existing entries keep their original line position
    *  - blank/malformed lines in the existing file are skipped
    *
    * Plan: every line gets a position (`pos`: old lines in file order,
    * new lines after all of them) and a precedence that is unique per
    * row. ONE single-partition exchange (`repartition(1)`) gathers the
    * lines; in that partition a `groupBy(id)` aggregate picks
    * `max_by(line, precedence)` as the id's winner and `min(pos)` as its
    * first position, and `sortWithinPartitions(first_pos)` restores the
    * file order. There is no hash exchange on id and no global sort's
    * range-partitioning sample job. NdjsonSpec pins the plan: one
    * aggregate keyed on id, exactly one shuffle exchange, neither
    * hash- nor range-partitioned.
    */
  def createOrExtend(spark: SparkSession, newDf: DataFrame, dir: String,
      resourceType: String, updateExisting: Boolean = false): Unit = {
    import spark.implicits._
    val path = Paths.get(dir, s"$resourceType.ndjson")

    // positions: old lines get their file order; new lines sort after all
    // old lines (Python dict preserves first-insertion position)
    val newLines = jsonLines(newDf)
      .withColumn("pos", monotonically_increasing_id() + lit(1L << 45))
      .withColumn("src", lit(1))
    val all =
      if (Files.exists(path)) {
        val old = spark.read.text(path.toString).toDF("line")
          .withColumn("pos", monotonically_increasing_id())
          .withColumn("src", lit(0))
        old.unionByName(newLines)
      } else newLines

    // winner per id: with updateExisting the max position overall wins
    // (new > old, later-in-batch > earlier); without it, old wins when
    // present (old positions boosted above every new position)
    val precedence =
      if (updateExisting) $"pos"
      else when($"src" === 0, $"pos" + lit(1L << 62)).otherwise($"pos")
    val resolved = all
      .withColumn("id", get_json_object($"line", "$.id"))
      .filter($"id".isNotNull)
      .repartition(1)
      .groupBy($"id")
      .agg(max_by($"line", precedence).as("line"), min($"pos").as("first_pos"))
      .sortWithinPartitions($"first_pos")
      .select($"line")
    publish(Seq(path -> resolved))
  }

  /** Streaming form of the K1/K3 tail: drain a stream of resources into
    * the same single-file NDJSON artifact by running [[createOrExtend]]
    * once per micro-batch (`foreachBatch` — micro-batches are serialized
    * by the engine, so the read-modify-write upsert never races itself).
    *
    * Because the per-batch operation is an id-keyed upsert rather than
    * an append, the sink is idempotent under the file source's
    * at-least-once replay: a re-delivered resource lands on its existing
    * id and the file converges to exactly what one batch [[write]] of
    * the full input produces (StreamingSpec proves the parity).
    * `updateExisting` keeps its batch meaning per micro-batch: later
    * triggers overwrite earlier ids instead of keeping the first.
    *
    * Cost model: every micro-batch REWRITES the whole accumulated
    * NDJSON file (read existing + upsert + write), so IO is quadratic
    * over the stream's lifetime — inherent to the reference's
    * single-file interchange format, acceptable for the bounded
    * resource files it exists for; engine-internal streaming storage
    * is the parquet/console path, not this sink.
    *
    * @param checkpointLocation durable progress tracking. Without it
    *   Spark uses a fresh temp checkpoint, so a RESTARTED query replays
    *   the entire input and convergence rests solely on the upsert's
    *   idempotence; pass a real path in any run that can restart.
    * @param trigger optional trigger (e.g. `Trigger.AvailableNow()` for
    *   drain-and-stop maintenance runs); default = micro-batch ASAP. */
  def writeStreamTo(stream: DataFrame, dir: String, resourceType: String,
      updateExisting: Boolean = false,
      checkpointLocation: Option[String] = None,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        createOrExtend(batch.sparkSession, batch, dir, resourceType,
          updateExisting)
      }
    checkpointLocation.foreach(p => w.option("checkpointLocation", p))
    trigger.foreach(w.trigger)
    w.start()
  }
}
