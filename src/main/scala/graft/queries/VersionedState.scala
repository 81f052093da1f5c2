package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Atomically-committed, versioned store for the additive streaming
  * folds' small state (q9e's CMS grid, q9t's histogram, q9h's LM
  * tables). The naive layout — overwrite the state directory, then
  * touch an `applied-<batchId>` marker — has a crash window between
  * the two writes that leaves ALREADY-MERGED counters marked
  * unapplied, so a redelivered batch double-counts; and the overwrite
  * itself is non-atomic. This store closes both windows with the
  * version-pointer commit real lakehouse logs use:
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
  * its grid and ledger still mutually consistent — and the orphaned
  * version directory is garbage-collected by the next successful
  * commit. A crash after the swap publishes grid AND marker together.
  * State and ledger can never disagree, which is what makes
  * at-least-once redelivery exactly-once at the sink.
  *
  * Single-writer by contract (one streaming query owns a state dir —
  * the foreachBatch execution model); readers resolve through
  * [[current]] and always see a complete committed version.
  */
object VersionedState {

  private def currentFile(stateDir: String): Path =
    Paths.get(stateDir, "CURRENT")

  /** The live committed version directory, if any commit exists. */
  def current(stateDir: String): Option[Path] = {
    val cf = currentFile(stateDir)
    if (!Files.exists(cf)) None
    else {
      val d = Paths.get(stateDir, Files.readString(cf).trim)
      if (Files.isDirectory(d)) Some(d) else None
    }
  }

  /** Path of table `name` inside the live version (for readers). */
  def tablePath(stateDir: String, name: String): Option[Path] =
    current(stateDir).map(_.resolve(name))
      .filter(p => Files.exists(p.resolve("_SUCCESS")))

  /** Has `batchId` been folded into the LIVE state? (The ledger lives
    * inside the committed version, so this can never report a batch
    * the visible counters don't contain.) */
  def applied(stateDir: String, batchId: Long): Boolean =
    current(stateDir).exists(d =>
      Files.exists(d.resolve(s"_applied-$batchId")))

  /** Commit a new version: `write(versionDir)` materializes the
    * state's parquet table(s) under a fresh directory, the applied
    * ledger is carried forward plus `batchId`, and `CURRENT` swaps
    * atomically. Superseded versions are then deleted. */
  def commit(stateDir: String, batchId: Long)(write: Path => Unit): Unit = {
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
