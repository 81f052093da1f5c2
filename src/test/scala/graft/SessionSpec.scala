package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The session factory is the one place session-global settings live:
  * its session has them, `SPARK_GRAFT_CPUS` is checked, and no other
  * code builds a session. */
class SessionSpec extends AnyFunSuite with SparkSuite {

  test("the factory session: UTC, RocksDB state store, one shuffle " +
    "partition per slot, no UI, Spark's parallelism-first coalescing") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.streaming.stateStore.providerClass") ==
      Session.StateStoreProvider)
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    // Spark's default, which the factory relies on without setting it
    // (the A/B behind it is in OPTIMIZATION_r20.md)
    assert(conf.get(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true")
  }

  test("SPARK_GRAFT_CPUS defaults to 4 and rejects a value that is not " +
    "a positive integer, naming the variable") {
    assert(Session.cpusFrom(None) == 4)
    assert(Session.cpusFrom(Some("7")) == 7)
    for (bad <- Seq("0", "x")) {
      val e = intercept[IllegalArgumentException](Session.cpusFrom(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("q6d refuses a session without the RocksDB provider, naming the " +
    "factory") {
    val bare = spark.newSession()
    bare.conf.unset("spark.sql.streaming.stateStore.providerClass")
    // the check comes before q6d reads anything, so no data dir is needed
    val e = intercept[IllegalArgumentException](
      SparkEntry.queries("q6d_running_totals")(bare, "no-such-dir"))
    assert(e.getMessage.contains("graft.Session"), e.getMessage)
  }

  test("the factory is the only session builder in src/main and src/test") {
    val call = java.util.regex.Pattern.quote("SparkSession" + ".builder(")
    def calls(root: String): Map[Path, Int] = {
      val files = Files.walk(Paths.get(root))
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p -> (Files.readString(p).split(call, -1).length - 1))
        .filter(_._2 > 0).toMap
      finally files.close()
    }
    assert(calls("src/main") ==
      Map(Paths.get("src/main/scala/graft/Session.scala") -> 1))
    assert(calls("src/test").isEmpty)
  }
}
