package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomically-committed, versioned store for the streaming folds'
  * small state: every `*FoldBatch` except qa7's per-batch-partition
  * kAnon writer folds through [[fold]]. Overwriting a state directory
  * in place is not atomic (Spark deletes the directory before the
  * write job runs, so a failed write leaves no state and the next
  * fold starts over from its batch alone), and touching an
  * `applied-<batchId>` marker after the write leaves ALREADY-MERGED
  * counters marked unapplied if the process dies in between, so a
  * redelivered batch double-counts. This store closes both windows
  * with the version-pointer commit real lakehouse logs use:
  *
  *  - each commit writes a FRESH version directory `v-<batchId>-<n>/`
  *    holding the state's parquet table(s) PLUS the applied-batch
  *    ledger (`_applied-<id>` markers: carried forward from the live
  *    version, plus this batch's — underscore-prefixed so parquet
  *    readers ignore them);
  *  - the single `CURRENT` pointer file is then swapped via
  *    write-temp + ATOMIC_MOVE rename.
  *
  * A crash before the swap leaves the previous version fully live —
  * its tables and ledger still mutually consistent — and the orphaned
  * version directory is garbage-collected by the next successful
  * commit. A crash after the swap publishes tables AND marker
  * together. State and ledger can never disagree, which is what makes
  * at-least-once redelivery exactly-once at the sink. Because the live
  * version stays in place until the swap, a fold's new tables are
  * written straight from frames over the live ones.
  *
  * Single-writer by contract (one streaming query owns a state dir —
  * the foreachBatch execution model); readers resolve through
  * [[current]] and always see a complete committed version.
  */
object VersionedState {

  private def currentFile(stateDir: String): Path =
    Paths.get(stateDir, "CURRENT")

  /** The live committed version directory, if any commit exists. A
    * `CURRENT` naming a missing version fails: treating it as "no
    * state" would rebuild the state from the next batch alone. */
  def current(stateDir: String): Option[Path] = {
    val cf = currentFile(stateDir)
    if (!Files.exists(cf)) None
    else {
      val name = Files.readString(cf).trim
      val d = Paths.get(stateDir, name)
      require(Files.isDirectory(d),
        s"VersionedState $stateDir: CURRENT names missing version $name")
      Some(d)
    }
  }

  /** Path of table `name` inside the live version (for readers). */
  def tablePath(stateDir: String, name: String): Option[Path] =
    current(stateDir).map(_.resolve(name))
      .filter(p => Files.exists(p.resolve("_SUCCESS")))

  /** Has `batchId` been folded into the LIVE state? (The ledger lives
    * inside the committed version, so this can never report a batch
    * the visible tables don't contain.) */
  private[graft] def applied(stateDir: String, batchId: Long): Boolean =
    current(stateDir).exists(d =>
      Files.exists(d.resolve(s"_applied-$batchId")))

  /** Fold one batch into the state. Unless `batchId` is already in the
    * ledger, `next` receives each of `tables` as a frame over the live
    * version (None before the first commit) and returns the tables'
    * new frames in the same order; they are written into a fresh
    * version, which [[commit]] publishes with the batch. A write that
    * throws publishes nothing and leaves the batch unapplied. */
  def fold(spark: SparkSession, stateDir: String, batchId: Long,
      tables: String*)(next: Seq[Option[DataFrame]] => Seq[DataFrame])
      : Unit = {
    if (applied(stateDir, batchId)) return
    val live = current(stateDir)
    val frames = next(tables.map(t =>
      live.map(v => spark.read.parquet(v.resolve(t).toString))))
    // one file per table: fold state is small by contract, and the
    // next fold reads it back whole
    commit(stateDir, batchId) { vdir =>
      tables.zip(frames).foreach { case (t, df) =>
        df.coalesce(1).write.parquet(vdir.resolve(t).toString)
      }
    }
  }

  /** The one-table case of [[fold]]. */
  def foldTable(spark: SparkSession, stateDir: String, batchId: Long,
      table: String)(next: Option[DataFrame] => DataFrame): Unit =
    fold(spark, stateDir, batchId, table)(live => Seq(next(live.head)))

  /** Commit a new version: `write(versionDir)` materializes the
    * state's parquet table(s) under a fresh directory, the applied
    * ledger is carried forward plus `batchId`, and `CURRENT` swaps
    * atomically. Superseded versions are then deleted. */
  private[graft] def commit(stateDir: String, batchId: Long)(
      write: Path => Unit): Unit = {
    Files.createDirectories(Paths.get(stateDir))
    val prev = current(stateDir)
    // nanoTime disambiguates a re-fold of the same batchId after a
    // torn (pre-swap) crash left an orphan dir of the same name
    val vname = s"v-$batchId-${java.lang.Long.toHexString(System.nanoTime)}"
    val vdir = Paths.get(stateDir, vname)
    write(vdir)
    prev.foreach { p =>
      eachEntry(p) { f =>
        if (f.getFileName.toString.startsWith("_applied-"))
          Files.copy(f, vdir.resolve(f.getFileName.toString))
      }
    }
    // idempotent on a misused re-commit of an applied batch: its
    // marker just arrived via the carry-forward copy above
    val marker = vdir.resolve(s"_applied-$batchId")
    if (!Files.exists(marker)) Files.createFile(marker)
    val tmp = Files.createTempFile(Paths.get(stateDir), "CURRENT-", ".tmp")
    Files.writeString(tmp, vname)
    Files.move(tmp, currentFile(stateDir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // GC: anything that isn't the live version is a superseded or
    // torn-write orphan; single-writer contract makes this safe
    eachEntry(Paths.get(stateDir)) { f =>
      val n = f.getFileName.toString
      if (n.startsWith("v-") && n != vname && Files.isDirectory(f))
        Tables.deleteRecursively(f.toFile)
    }
  }

  /** Directory iteration with the stream CLOSED afterwards — a bare
    * Files.list leaks one open directory handle per call, which a
    * per-micro-batch commit loop turns into fd exhaustion. */
  private def eachEntry(dir: Path)(f: Path => Unit): Unit = {
    val s = Files.list(dir)
    try { val it = s.iterator(); while (it.hasNext) f(it.next()) }
    finally s.close()
  }
}
