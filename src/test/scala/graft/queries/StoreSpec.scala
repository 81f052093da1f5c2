package graft.queries

import graft.SparkSuite
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.store]]: fault injection, concurrent builders (threads and
  * JVMs), replacement of a mismatched store, the write-free warm path,
  * the `sourceStamp` identity decision, and q9t's refusal to serve from
  * a histogram that lost a bucket. */
class StoreSpec extends AnyFunSuite with BeforeAndAfterAll with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private val Prefix = "storespec"

  private def tmpRoot(name: String): Path =
    Paths.get(System.getProperty("java.io.tmpdir"), name)
  private val scratch = tmpRoot("graft_scratch")
  private val staging = tmpRoot("graft_scratch_staging")

  private def list(p: Path): List[Path] =
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.iterator.asScala.toList finally s.close() }

  private def nameOf(key: String): String = Prefix + "_" +
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  private def stagingLeft(key: String): List[String] =
    list(staging).map(_.getFileName.toString)
      .filter(_.startsWith(s"${nameOf(key)}.tmp-"))

  private def nonce(tag: String): String =
    s"$tag|${java.util.UUID.randomUUID()}"

  /** A part without Spark: the marker is all the protocol checks. */
  private def part(dir: String, name: String): Unit = {
    Files.createDirectories(Paths.get(dir, name))
    Files.createFile(Paths.get(dir, name, "_SUCCESS")); ()
  }

  override def afterAll(): Unit = {
    (list(scratch) ++ list(staging))
      .filter(_.getFileName.toString.startsWith(s"${Prefix}_"))
      .foreach(p => Tables.deleteRecursively(p.toFile))
    super.afterAll()
  }

  test("a build that throws after writing one part publishes nothing, " +
    "leaves no staging dir, and the next call builds") {
    val key = nonce("fault")
    // a crashed earlier builder's leftover staging dir, reaped by the
    // next build of the same name
    Files.createDirectories(staging.resolve(s"${nameOf(key)}.tmp-crashed"))
    val boom = intercept[IllegalStateException] {
      Tables.store(spark, Prefix, key, "a", "b") { d =>
        spark.range(3).write.parquet(s"$d/a")
        throw new IllegalStateException("injected fault")
      }
    }
    assert(boom.getMessage == "injected fault")
    assert(!Files.exists(scratch.resolve(nameOf(key))), "a failed build published")
    assert(stagingLeft(key).isEmpty, s"staging left behind: ${stagingLeft(key)}")

    val st = Tables.store(spark, Prefix, key, "a", "b") { d =>
      part(d, "a"); part(d, "b")
    }
    assert(st.built && st.dir == scratch.resolve(nameOf(key)).toString)
    assert(!Tables.store(spark, Prefix, key, "a", "b")(_ => fail("rebuilt")).built)
  }

  test("a build that skips a declared part fails and publishes nothing") {
    val key = nonce("partial")
    val e = intercept[IllegalArgumentException] {
      Tables.store(spark, Prefix, key, "a", "b")(d => part(d, "a"))
    }
    assert(e.getMessage.contains("part 'b' without _SUCCESS"), e.getMessage)
    assert(!Files.exists(scratch.resolve(nameOf(key))))
    assert(stagingLeft(key).isEmpty)
  }

  test("two threads released together on one key: one build, identical " +
    "rows served, one published dir") {
    val key = nonce("race")
    val builds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(new Callable[Stored] {
        def call(): Stored = {
          go.await()
          Tables.store(spark, Prefix, key, "data") { d =>
            builds.incrementAndGet()
            spark.range(0, 100, 1, 2).toDF("v").write.parquet(s"$d/data")
          }
        }
      }))
      go.countDown()
      val got = calls.map(_.get(5, TimeUnit.MINUTES))
      assert(builds.get == 1, s"build body ran ${builds.get} times")
      assert(got.count(_.built) == 1 && got.map(_.dir).distinct.size == 1)
      val rows = got.map(st => spark.read.parquet(s"${st.dir}/data")
        .collect().map(_.getLong(0)).sorted.toSeq)
      assert(rows.head == rows.last && rows.head == (0L until 100L))
      assert(list(scratch).count(_.getFileName.toString == nameOf(key)) == 1)
      assert(stagingLeft(key).isEmpty)
    } finally pool.shutdownNow()
  }

  test("two JVMs building one key: the file lock lets exactly one build") {
    val key = nonce("jvms")
    val counter = Files.createTempFile("storespec-builds", ".log")
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val procs = (1 to 2).map(_ => new ProcessBuilder(java,
        s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}",
        "-cp", System.getProperty("java.class.path"),
        "graft.queries.StoreSpecBuilder", key, counter.toString)
      .redirectErrorStream(true).start())
    val outs = procs.map { p =>
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() == 0, s"builder JVM failed: $out")
      out.linesIterator.toSeq.last
    }
    assert(Files.readAllLines(counter).size == 1,
      s"build ran in ${Files.readAllLines(counter).size} JVMs")
    assert(outs.sorted == Seq("built=false", "built=true"), outs)
    assert(stagingLeft(key).isEmpty)
    Files.delete(counter)
  }

  test("a dir at the final path with a mismatched key is replaced") {
    val key = nonce("stale")
    val dir = scratch.resolve(nameOf(key))
    part(dir.toString, "data")
    Files.writeString(dir.resolve("_graft_index_key"), "some older key")
    Files.writeString(dir.resolve("orphan.txt"), "from the older layout")
    val st = Tables.store(spark, Prefix, key, "data")(d => part(d, "data"))
    assert(st.built, "a mismatched key served")
    assert(Files.readString(dir.resolve("_graft_index_key")) == key)
    assert(!Files.exists(dir.resolve("orphan.txt")), "old contents survived")
  }

  test("a warm call changes no path or mtime under graft_scratch or " +
    "its staging dir") {
    val key = nonce("warm")
    Tables.store(spark, Prefix, key, "data")(d => part(d, "data"))
    def census(): Map[String, Long] = Seq(scratch, staging).flatMap { root =>
      val s = Files.walk(root)
      try s.iterator.asScala.map(p =>
        p.toString -> Files.getLastModifiedTime(p).toMillis).toList
      finally s.close()
    }.toMap
    val before = census()
    Thread.sleep(20) // a write in the same millisecond would not show
    val st = Tables.store(spark, Prefix, key, "data")(_ => fail("rebuilt"))
    assert(!st.built)
    assert(census() == before, "the warm path wrote to disk")
  }

  test("sourceStamp: a same-size rewrite with a new mtime re-keys and " +
    "rebuilds; same size and same mtime is the documented blind spot") {
    val src = Files.createTempFile("storespec-src", ".bin")
    def rewrite(bytes: String, mtime: Long): Unit = {
      Files.writeString(src, bytes)
      Files.setLastModifiedTime(src, FileTime.fromMillis(mtime))
    }
    def load(): Stored = Tables.store(spark, Prefix,
        s"stamp|$src|${Tables.sourceStamp(src.toString)}", "data")(d =>
      part(d, "data"))
    try {
      rewrite("aaaa", 1700000000000L)
      val s1 = Tables.sourceStamp(src.toString)
      assert(load().built && !load().built)
      rewrite("bbbb", 1700000002000L)
      val s2 = Tables.sourceStamp(src.toString)
      assert(s2 != s1, "same-size rewrite kept the stamp")
      assert(load().built, "a new stamp served the old store")
      rewrite("cccc", 1700000002000L)
      assert(Tables.sourceStamp(src.toString) == s2)
      assert(!load().built)
    } finally Files.delete(src)
  }

  test("q9t fails loudly, naming the bucket, when the stored histogram " +
    "lost a bucket the delta does not cover") {
    val (stored, _, stateDir) = Relational.loadOrBuildQtState(spark, sfDir)
    // a bucket the delta leaves untouched: its merged count equals the
    // stored one, so dropping it leaves no row for it anywhere
    val victim = stored.join(Relational.qtMergedHist(spark, sfDir)
        .withColumnRenamed("cnt", "merged"), "b")
      .filter(col("cnt") === col("merged"))
      .agg(min(col("b"))).collect().head.getLong(0)
    val histDir = Paths.get(stateDir, "hist")
    val kept = stored.filter(col("b") =!= victim)
    val rows = kept.collect()
    val tmp = Files.createTempDirectory("storespec-hist").resolve("hist")
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1),
      kept.schema).write.parquet(tmp.toString)
    try {
      Tables.deleteRecursively(histDir.toFile)
      Files.move(tmp, histDir)
      val (_, rebuilt, _) = Relational.loadOrBuildQtState(spark, sfDir)
      assert(!rebuilt, "the tampered store must still be served")
      val e = intercept[IllegalArgumentException](
        Relational.quantileIncremental(spark, sfDir))
      assert(e.getMessage.contains(s"lineitem buckets $victim are missing"),
        e.getMessage)
    } finally Tables.deleteRecursively(Paths.get(stateDir).toFile)
  }
}

/** Child JVM for the cross-process test: builds one store whose build
  * logs itself to a shared file and holds the lock for a while. The
  * store protocol never touches the session, so none is created. */
object StoreSpecBuilder {
  def main(args: Array[String]): Unit = {
    val Array(key, counter) = args
    val st = Tables.store(null, "storespec", key, "data") { d =>
      Files.writeString(Paths.get(counter), "build\n",
        StandardOpenOption.APPEND)
      Thread.sleep(2000)
      Files.createDirectories(Paths.get(d, "data"))
      Files.createFile(Paths.get(d, "data", "_SUCCESS"))
    }
    println(s"built=${st.built}")
  }
}
