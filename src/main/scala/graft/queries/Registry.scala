package graft.queries

import java.nio.channels.FileChannel
import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption,
  StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability exposed through the driver harness.
  *
  * @param name   stable key — shows up in CORRECTNESS/BENCH artifacts
  * @param fn     (session, sfDir) => result; sfDir holds the parquet tables
  * @param oracle equivalent ANSI SQL runnable by DuckDB over the same
  *               tables (views named after the parquet files). None ⇒ the
  *               operator is not SQL-expressible (e.g. MinHash-LSH) and the
  *               driver records a weaker rows-only check.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    doc: String = "")

/** A published [[Tables.store]]: its directory, and whether this call
  * built it. */
final case class Stored(dir: String, built: Boolean)

trait Registry {
  def defs: Seq[QueryDef]
}

/** Parquet table access for the driver testdata layout
  * (sf dir holding one parquet file per table — TESTDATA.md). */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The events table in its RAW long-nanos layout, whatever ts type
    * the files on disk carry (the driver's r12 testdata regeneration
    * switched INT64 TIMESTAMP(NANOS) to TIMESTAMP(µs)) — one adaptive
    * reader so every event query keeps a single input contract. */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.readBatch(spark, s"$dir/events.parquet")

  /** ONE recursive delete for every scratch/store wipe (scratchDir,
    * store, VersionedState) — does NOT descend into directory symlinks
    * (the link itself is removed, its target untouched), and fails
    * LOUDLY when an entry survives deletion: a silently half-wiped
    * directory would be rebuilt next to stale files. The survival
    * check is NOFOLLOW — a dangling symlink that delete() failed on
    * would read exists()=false through the broken link and slip past a
    * follow-links check. A missing path is a no-op. */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    if (!f.delete() && Files.exists(f.toPath, LinkOption.NOFOLLOW_LINKS))
      throw new java.io.IOException(s"scratch wipe: failed to delete $f")
  }

  private[queries] def scratchRoot: Path =
    Paths.get(System.getProperty("java.io.tmpdir"), "graft_scratch")

  private def stagingRoot: Path =
    Paths.get(System.getProperty("java.io.tmpdir"), "graft_scratch_staging")

  private val KeyFile = "_graft_index_key"

  private val buildMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private[queries] def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Fixed per-name scratch directory, deleted and recreated on every
    * call — queries that write real output (e2e pipelines, layout ops)
    * use this instead of fresh createTempDirectory calls so repeated
    * Verify/Bench runs are bounded to ONE resident copy per query
    * rather than leaking corpus-sized temp dirs. */
  def scratchDir(name: String): String = {
    val p = scratchRoot.resolve(name)
    deleteRecursively(p.toFile)
    Files.createDirectories(p)
    p.toString
  }

  /** The one content-addressed store: every piece of cross-run state
    * (indexes, base-split sketches, trained models, layouts) lives in
    * `graft_scratch/<prefix>_<md5(key)[0:12]>` under `java.io.tmpdir`,
    * and this is the only code that decides whether it exists.
    *
    * Valid means the key file holds exactly `key` and every declared
    * part (a subdirectory, e.g. "data" or "partials/batch=0") carries
    * its parquet `_SUCCESS` marker. A valid store is served as it is:
    * no lock is taken and nothing is written. Otherwise, under a
    * per-name JVM monitor plus a file lock (so threads and other JVMs
    * sharing the directory build once), validity is checked again,
    * `build` writes every part into a fresh staging directory, the key
    * file is written, every part's `_SUCCESS` is required, and the
    * staging directory is renamed onto the final path atomically after
    * any invalid directory there is removed. A build that throws, or a
    * crash at any step, publishes nothing; its staging directory is
    * deleted on the spot or by the next build of the same name.
    * Staging directories and lock files sit in `graft_scratch_staging`,
    * a sibling on the same filesystem, so `graft_scratch` only ever
    * holds published stores.
    *
    * `build` receives the staging directory and must read its own
    * parts (merge≡rebuild contracts) from there: no DataFrame over
    * that path may escape the build. Callers read the parts back from
    * the returned `dir`. `built` says whether this call ran `build`. */
  def store(spark: SparkSession, prefix: String, key: String,
      parts: String*)(build: String => Unit): Stored = {
    val name = s"${prefix}_${md5Hex(key).take(12)}"
    val dir = scratchRoot.resolve(name)
    // Try: another JVM may be deleting an invalid dir under this check
    def valid =
      scala.util.Try(Files.readString(dir.resolve(KeyFile))).toOption
        .contains(key) &&
      parts.forall(p => Files.exists(dir.resolve(p).resolve("_SUCCESS")))
    if (valid) return Stored(dir.toString, built = false)
    val staging = Files.createDirectories(stagingRoot)
    buildMonitors.computeIfAbsent(name, _ => new Object).synchronized {
      val lock = FileChannel.open(staging.resolve(s"$name.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        lock.lock()
        if (valid) Stored(dir.toString, built = false)
        else {
          val orphans = Files.list(staging)
          try orphans.iterator.asScala
            .filter(_.getFileName.toString.startsWith(s"$name.tmp-"))
            .toList.foreach(p => deleteRecursively(p.toFile))
          finally orphans.close()
          val tmp = Files.createTempDirectory(staging, s"$name.tmp-")
          try {
            build(tmp.toString)
            Files.writeString(tmp.resolve(KeyFile), key)
            parts.foreach(p => require(
              Files.exists(tmp.resolve(p).resolve("_SUCCESS")),
              s"store $name: build left part '$p' without _SUCCESS"))
            deleteRecursively(dir.toFile)
            Files.createDirectories(scratchRoot)
            Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
          } finally deleteRecursively(tmp.toFile)
          Stored(dir.toString, built = true)
        }
      } finally lock.close()
    }
  }

  /** The one-part case of [[store]]: `build`'s frame is written as the
    * store's `data` part and read back. */
  def contentAddressed(spark: SparkSession, prefix: String, key: String)(
      build: => DataFrame): DataFrame = {
    val st = store(spark, prefix, key, "data")(d =>
      build.write.parquet(s"$d/data"))
    spark.read.parquet(s"${st.dir}/data")
  }

  /** `size|maxMtime` identity stamp of a parquet source, covering both
    * single-file and directory layouts — the input half of every store
    * key. A rewrite with a new mtime changes the stamp even at the same
    * byte size (StoreSpec pins it). What it cannot see: a rewrite that
    * keeps the byte size AND the mtime (`cp -p`, `rsync -t`, an
    * explicit setLastModifiedTime, or two same-size writes inside one
    * millisecond); in a directory, a same-size swap of an entry whose
    * new mtime does not exceed the newest entry's; and anything below
    * the first level (files inside hive partition subdirectories are
    * not listed). It stays because a content hash would read every
    * source byte on every serve — the work a store exists to skip. */
  def sourceStamp(path: String): String = {
    val p = Paths.get(path)
    val (size, mtime) =
      if (Files.isDirectory(p)) {
        val stream = Files.list(p)
        val parts = try stream.iterator.asScala.toList finally stream.close()
        (parts.map(Files.size).sum,
          parts.map(Files.getLastModifiedTime(_).toMillis)
            .foldLeft(0L)(math.max))
      } else (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    s"$size|$mtime"
  }
}
