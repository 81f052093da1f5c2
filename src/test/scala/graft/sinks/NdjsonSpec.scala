package graft.sinks

import graft.SparkSuite
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, DeserializeToObject,
  LogicalPlan, MapPartitions, SerializeFromObject}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.{Failed, Outcome}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** K1/K3 sink semantics: single-file NDJSON write, and create_or_extend
  * upsert parity with `fhir_etl/utils.py:101-135` — append-new,
  * keep-or-update existing, last-wins within a batch, idempotence.
  * Every test also checks that the sinks leave no temp dir behind. */
class NdjsonSpec extends AnyFunSuite with AdaptiveSparkPlanHelper
    with SparkSuite {

  private def df(rows: (String, Int)*) = {
    import spark.implicits._
    rows.toSeq.toDF("id", "v")
  }

  private def readLines(dir: String, t: String): Seq[String] = {
    val p = Paths.get(dir, s"$t.ndjson")
    scala.io.Source.fromFile(p.toFile, "UTF-8").getLines().toSeq
  }

  private def tmpDir(): String =
    Files.createTempDirectory("ndjson-spec").toString

  /** The sinks' own temp dirs (`ndjson` + digits) in java.io.tmpdir. */
  private def sinkTmpDirs(): Int = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator.asScala.count(_.getFileName.toString.matches("ndjson\\d+"))
    finally s.close()
  }

  override def withFixture(test: NoArgTest): Outcome = {
    val before = sinkTmpDirs()
    super.withFixture(test) match {
      case o if !o.isSucceeded => o
      case o =>
        val after = sinkTmpDirs()
        if (after == before) o
        else Failed(s"sink temp dirs in java.io.tmpdir: $before before, $after after")
    }
  }

  private def writePlans(body: => Unit): Seq[QueryExecution] =
    graft.SparkEvents.writePlans(spark)(body)

  test("K1 write: one line per row, nulls dropped") {
    import spark.implicits._
    val dir = tmpDir()
    val d = Seq(("a", Some(1)), ("b", None)).toDF("id", "v")
    Ndjson.write(d, dir, "Thing")
    val lines = readLines(dir, "Thing")
    assert(lines == Seq("""{"id":"a","v":1}""", """{"id":"b"}"""))
  }

  test("K3 create: new file from new items") {
    val dir = tmpDir()
    Ndjson.createOrExtend(spark, df("a" -> 1, "b" -> 2), dir, "Observation")
    assert(readLines(dir, "Observation") ==
      Seq("""{"id":"a","v":1}""", """{"id":"b","v":2}"""))
  }

  test("K3 extend without update: existing ids keep old values, new append") {
    val dir = tmpDir()
    Ndjson.createOrExtend(spark, df("a" -> 1, "b" -> 2), dir, "Observation")
    Ndjson.createOrExtend(spark, df("b" -> 99, "c" -> 3), dir, "Observation")
    assert(readLines(dir, "Observation") == Seq(
      """{"id":"a","v":1}""", """{"id":"b","v":2}""", """{"id":"c","v":3}"""))
  }

  test("K3 with updateExisting: new values win, position preserved") {
    val dir = tmpDir()
    Ndjson.createOrExtend(spark, df("a" -> 1, "b" -> 2), dir, "Observation")
    Ndjson.createOrExtend(spark, df("b" -> 99, "c" -> 3), dir, "Observation",
      updateExisting = true)
    assert(readLines(dir, "Observation") == Seq(
      """{"id":"a","v":1}""", """{"id":"b","v":99}""", """{"id":"c","v":3}"""))
  }

  test("K3 idempotence: applying the same batch twice ≡ once") {
    val dir1 = tmpDir(); val dir2 = tmpDir()
    val batch = df("a" -> 1, "b" -> 2, "c" -> 3)
    Ndjson.createOrExtend(spark, batch, dir1, "Observation")
    Ndjson.createOrExtend(spark, batch, dir2, "Observation")
    Ndjson.createOrExtend(spark, batch, dir2, "Observation")
    assert(readLines(dir1, "Observation") == readLines(dir2, "Observation"))
  }

  test("K3 duplicate ids within a batch: last occurrence wins") {
    val dir = tmpDir()
    Ndjson.createOrExtend(spark, df("a" -> 1, "a" -> 2), dir, "Observation")
    assert(readLines(dir, "Observation") == Seq("""{"id":"a","v":2}"""))
  }

  test("K3 skips blank and malformed existing lines") {
    val dir = tmpDir()
    Files.write(Paths.get(dir, "Observation.ndjson"),
      "{\"id\":\"a\",\"v\":1}\n\nnot json at all\n{\"v\":5}\n".getBytes)
    Ndjson.createOrExtend(spark, df("b" -> 2), dir, "Observation")
    assert(readLines(dir, "Observation") ==
      Seq("""{"id":"a","v":1}""", """{"id":"b","v":2}"""))
  }

  test("K3 without update, in-batch duplicate of an existing id: the old line is kept") {
    val dir = tmpDir()
    Ndjson.createOrExtend(spark, df("a" -> 1, "b" -> 2), dir, "Observation")
    Ndjson.createOrExtend(spark, df("b" -> 98, "c" -> 3, "b" -> 99), dir,
      "Observation")
    assert(readLines(dir, "Observation") == Seq(
      """{"id":"a","v":1}""", """{"id":"b","v":2}""", """{"id":"c","v":3}"""))
  }

  test("K3 with update, in-batch duplicate of an existing id: the last new " +
    "occurrence wins at the old line's position") {
    val dir = tmpDir()
    Ndjson.createOrExtend(spark, df("a" -> 1, "b" -> 2), dir, "Observation")
    Ndjson.createOrExtend(spark, df("b" -> 98, "c" -> 3, "b" -> 99), dir,
      "Observation", updateExisting = true)
    assert(readLines(dir, "Observation") == Seq(
      """{"id":"a","v":1}""", """{"id":"b","v":99}""", """{"id":"c","v":3}"""))
  }

  test("K3 keeps the line order of an existing file read as several partitions") {
    val dir = tmpDir()
    val ids = new scala.util.Random(7).shuffle((0 until 200).map(i => f"id$i%03d")).toSeq
    val existing = ids.map(i => s"""{"id":"$i","v":0}""")
    Files.write(Paths.get(dir, "Observation.ndjson"),
      existing.mkString("", "\n", "\n").getBytes)
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "512")
    try {
      assert(spark.read.text(s"$dir/Observation.ndjson").rdd.getNumPartitions >= 2)
      Ndjson.createOrExtend(spark, df(ids(7) -> 5, "new" -> 1), dir, "Observation",
        updateExisting = true)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(readLines(dir, "Observation") ==
      existing.updated(7, s"""{"id":"${ids(7)}","v":5}""") :+ """{"id":"new","v":1}""")
  }

  /** The write plan of an upsert into an existing file. */
  private def upsertPlan(): QueryExecution = {
    val dir = tmpDir()
    Ndjson.createOrExtend(spark, df("a" -> 1, "b" -> 2), dir, "Observation")
    val plans = writePlans(
      Ndjson.createOrExtend(spark, df("b" -> 3, "c" -> 4), dir, "Observation"))
    assert(plans.size == 1, s"expected one write, saw ${plans.size}")
    plans.head
  }

  test("K3 plan pin: one aggregate keyed on id, no RangePartitioning exchange") {
    val qe = upsertPlan()
    val aggs = qe.optimizedPlan.collect { case a: Aggregate => a }
    assert(aggs.size == 1, s"expected one aggregate:\n${qe.optimizedPlan}")
    assert(aggs.head.groupingExpressions.map(_.references.map(_.name).toSeq) ==
      Seq(Seq("id")), s"aggregate not keyed on id:\n${qe.optimizedPlan}")
    val ranges = collect(qe.executedPlan) {
      case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(ranges.isEmpty, s"range-partitioned exchange:\n${qe.executedPlan}")
  }

  test("K3 plan pin: exactly one shuffle exchange, not hash-partitioned on id") {
    val qe = upsertPlan()
    val exchanges = collect(qe.executedPlan) { case e: ShuffleExchangeLike => e }
    assert(exchanges.size == 1, s"expected one exchange:\n${qe.executedPlan}")
    assert(!exchanges.head.outputPartitioning.isInstanceOf[HashPartitioning],
      s"hash exchange on id:\n${qe.executedPlan}")
  }

  /** Rows covering what JSON serialization must get right: top-level and
    * nested nulls, empty arrays, arrays of structs (with null elements
    * and null fields), unicode and escapes, long/double/boolean, and
    * column names holding a dot, a space and a backtick. */
  private def awkward() = {
    import org.apache.spark.sql.types._
    val item = StructType.fromDDL("code STRING, n LONG")
    val schema = new StructType()
      .add("id", StringType)
      .add("a.b", LongType)
      .add("c d", DoubleType)
      .add("e`f", BooleanType)
      .add("nested", new StructType()
        .add("s", StringType).add("xs", ArrayType(StringType))
        .add("inner", item))
      .add("items", ArrayType(item))
      .add("tags", ArrayType(StringType))
    val rows = Seq(
      Row("r1", 1L, 1.5, true, Row("x", Seq("p", null), Row("c", 2L)),
        Seq(Row("a", 1L), null, Row(null, 3L)), Seq.empty[String]),
      Row("r2", null, null, null, null, null, null),
      Row("r3", Long.MaxValue, -0.0, false, Row(null, Seq.empty[String], null),
        Seq.empty[Row], Seq("")),
      Row("r4", Long.MinValue, 1e-7, true,
        Row("\"q\" \\ \n\t\r\b\f \u0001 \u001f \u007f", null, Row(null, null)),
        Seq(Row("é ✓ 日本 \uD83D\uDE00 \u2028", null)), Seq("</script>", "'")),
      Row("r5", 0L, 1.0e300, false, Row("", Seq(""), Row("", 0L)),
        Seq(Row("", 0L)), Seq(null, "z")))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("K1/K3 serialization: sink lines equal df.toJSON byte for byte") {
    val d = awkward()
    val want = d.toJSON.collect().toSeq
    assert(want.size == 5 && want.exists(_.contains("a.b")))
    val dir = tmpDir()
    Ndjson.write(d, dir, "Thing")
    assert(readLines(dir, "Thing") == want)
    val up = tmpDir()
    Ndjson.createOrExtend(spark, d, up, "Thing")
    assert(readLines(up, "Thing") == want)
  }

  test("K1/K3 plan pin: lines are built without external Row objects") {
    def objectNodes(p: LogicalPlan): Seq[LogicalPlan] = p.collect {
      case n @ (_: DeserializeToObject | _: MapPartitions | _: SerializeFromObject) => n
    }
    val d = awkward()
    val dir = tmpDir()
    val plans = writePlans {
      Ndjson.write(d, dir, "Thing")
      Ndjson.createOrExtend(spark, d, dir, "Thing")
      Ndjson.writeAll(dir, Seq("Thing" -> d, "Other" -> df("a" -> 1)))
    }
    assert(plans.size == 3, s"expected three writes, saw ${plans.size}")
    plans.foreach(qe => assert(objectNodes(qe.optimizedPlan).isEmpty,
      s"object round trip in the sink plan:\n${qe.optimizedPlan}"))
  }

  private def bytes(dir: String, t: String): Seq[Byte] =
    Files.readAllBytes(Paths.get(dir, s"$t.ndjson")).toSeq

  test("writeAll: one write; each file holds the bytes write gives for its frame alone") {
    import org.apache.spark.sql.functions._
    val frames = Seq(
      "Summed" -> df("b" -> 2, "a" -> 1, "b" -> 3).groupBy("id")
        .agg(sum("v").as("v")).orderBy("id"),
      "Empty" -> df("a" -> 1).filter(col("v") > 5),
      "Thing" -> awkward())
    val all = tmpDir()
    val plans = writePlans(Ndjson.writeAll(all, frames))
    assert(plans.size == 1, s"expected one write, saw ${plans.size}")
    val alone = tmpDir()
    frames.foreach { case (t, f) => Ndjson.write(f, alone, t) }
    for ((t, _) <- frames) assert(bytes(all, t) == bytes(alone, t), t)
    assert(readLines(all, "Summed") == Seq("""{"id":"a","v":1}""", """{"id":"b","v":5}"""))
    assert(bytes(all, "Empty").isEmpty)
    assert(readLines(all, "Thing").size == 5)
  }

  test("writeAll: a frame that fails at run time publishes no file") {
    import org.apache.spark.sql.functions._
    val failing = spark.range(3).select(col("id"),
      when(col("id") === 2, raise_error(lit("boom"))).cast("string").as("x"))
    // the second fails in the shuffle stage that runs before the write
    for (bad <- Seq(failing, failing.repartition(2))) {
      val dir = tmpDir()
      val e = intercept[Exception](
        Ndjson.writeAll(dir, Seq("Good" -> df("a" -> 1), "Bad" -> bad)))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("boom")), e)
      val s = Files.list(Paths.get(dir))
      try assert(s.count() == 0, s"files published in $dir") finally s.close()
    }
  }
}
