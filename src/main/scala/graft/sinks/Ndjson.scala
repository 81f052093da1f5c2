package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** NDJSON sinks — the reference's native output format: one JSON object
  * per line, one `<ResourceType>.ndjson` file per type
  * (`fhir_etl/oneKgenomes/oneKg_fhirizer.py:49-62`,
  * `fhir_etl/utils.py:101-135`).
  *
  * Null-dropping on write reproduces the reference's recursive
  * empty-pruning for the null case; empty structs are never constructed
  * upstream (guarantee-by-construction, SURVEY §7.5 item 3).
  *
  * Scale note: golden-compat single-file output forces coalesce(1) at
  * the very end — the transform upstream stays parallel and only the
  * final line-writing serializes, same shape as any "collect results to
  * one artifact" sink. For engine-internal storage the parquet sink
  * (K4) is the scalable path; this sink exists for reference-format
  * interchange.
  */
object Ndjson {

  /** K1/K2: overwrite-write df as `<dir>/<resourceType>.ndjson`. */
  def write(df: DataFrame, dir: String, resourceType: String): Unit =
    writeSingleFile(df.toJSON.toDF("line").coalesce(1),
      Paths.get(dir, s"$resourceType.ndjson"))

  /** Write a one-partition frame of lines as `target`: Spark writes into
    * a fresh temp dir, its one part file is moved over `target`, and the
    * temp dir is deleted whether or not the write succeeded. */
  private def writeSingleFile(lines: DataFrame, target: Path): Unit = {
    val tmp = Files.createTempDirectory("ndjson")
    try {
      val out = tmp.resolve("out")
      lines.write.mode(SaveMode.Overwrite).text(out.toString)
      val parts = Files.list(out)
      val part = try parts.filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().get() finally parts.close()
      Files.createDirectories(target.getParent)
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
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
    * row. ONE `groupBy(id)` aggregate picks `max_by(line, precedence)`
    * as the id's winner and `min(pos)` as its first position, so the
    * winner is deterministic and the only id shuffle is the aggregate's.
    * `repartition(1).sortWithinPartitions(first_pos)` then orders the
    * single output partition without a global sort's range-partitioning
    * sample job. NdjsonSpec pins the plan: one aggregate keyed on id, no
    * `RangePartitioning` exchange.
    */
  def createOrExtend(spark: SparkSession, newDf: DataFrame, dir: String,
      resourceType: String, updateExisting: Boolean = false): Unit = {
    import spark.implicits._
    val path = Paths.get(dir, s"$resourceType.ndjson")

    // positions: old lines get their file order; new lines sort after all
    // old lines (Python dict preserves first-insertion position)
    val newLines = newDf.toJSON.toDF("line")
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
      .groupBy($"id")
      .agg(max_by($"line", precedence).as("line"), min($"pos").as("first_pos"))
      .repartition(1)
      .sortWithinPartitions($"first_pos")
      .select($"line")
    writeSingleFile(resolved, path)
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
