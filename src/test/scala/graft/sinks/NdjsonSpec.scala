package graft.sinks

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.{Failed, Outcome}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** K1/K3 sink semantics: single-file NDJSON write, and create_or_extend
  * upsert parity with `fhir_etl/utils.py:101-135` — append-new,
  * keep-or-update existing, last-wins within a batch, idempotence.
  * Every test also checks that the sinks leave no temp dir behind. */
class NdjsonSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def df(rows: (String, Int)*) = {
    import spark.implicits._
    rows.toSeq.toDF("id", "v")
  }

  private def readLines(dir: String, t: String): Seq[String] = {
    val p = Paths.get(dir, s"$t.ndjson")
    scala.io.Source.fromFile(p.toFile).getLines().toSeq
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

  /** Run `body` and return the QueryExecution of every write it ran. The
    * listener bus is async, so this waits until no new plan has arrived
    * for 300 ms. */
  private def writePlans(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      var (last, stable) = (-1, 0)
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime < deadline) {
        Thread.sleep(100)
        val n = seen.size
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq.filter(_.optimizedPlan.exists {
      case _: DataWritingCommand => true
      case _ => false
    })
  }

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

  test("K3 plan pin: one aggregate keyed on id, no RangePartitioning exchange") {
    val dir = tmpDir()
    Ndjson.createOrExtend(spark, df("a" -> 1, "b" -> 2), dir, "Observation")
    val plans = writePlans(
      Ndjson.createOrExtend(spark, df("b" -> 3, "c" -> 4), dir, "Observation"))
    assert(plans.size == 1, s"expected one write, saw ${plans.size}")
    val qe = plans.head
    val aggs = qe.optimizedPlan.collect { case a: Aggregate => a }
    assert(aggs.size == 1, s"expected one aggregate:\n${qe.optimizedPlan}")
    assert(aggs.head.groupingExpressions.map(_.references.map(_.name).toSeq) ==
      Seq(Seq("id")), s"aggregate not keyed on id:\n${qe.optimizedPlan}")
    val ranges = collect(qe.executedPlan) {
      case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(ranges.isEmpty, s"range-partitioned exchange:\n${qe.executedPlan}")
  }
}
