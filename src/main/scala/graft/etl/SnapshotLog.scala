package graft.etl

import java.io.File

/** The ONE on-disk commit log every versioned artifact rests on — the
  * warehouse's snapshots ([[StarBuilder]]) and the persisted indexes'
  * compaction epochs ([[LsmIndex]]) alike (the Delta Lake rule: one
  * transaction-log protocol for every table). Under an artifact root:
  *  - `v=<n>/` — a version's data, immutable once claimed;
  *  - `_log/<n>.commit` — its commit marker, the body the commit
  *    epoch-millis. The MARKER, not the directory, is the unit of
  *    visibility: a `v=<n>` without one is an aborted write no reader
  *    ever resolves;
  *  - `_log/txn.<stream>.<batch>` — the streaming txn ledger;
  *  - `.txn_<uuid>/` — a writer-private staging dir, invisible to
  *    readers, the [[DataSkipping.leaves]] walk and the log scan.
  * A commit stages its content, CLAIMS the version name through the
  * [[CommitProtocol]] seam, then creates the marker create-if-absent,
  * so every crash window leaves the previous committed version live:
  * before the claim only staging is lost; between claim and marker the
  * version is an unmarked orphan [[recoverUncommitted]] deletes. When
  * to recover is the caller's policy: a single-writer LSM artifact
  * recovers before every publish, the multi-writer warehouse only
  * through an explicit call (another writer's claim may be mid-commit).
  */
object SnapshotLog {

  def versionDir(root: String, v: Long): File = new File(root, s"v=$v")

  private def marker(root: String, v: Long) = new File(root, s"_log/$v.commit")

  private def ledger(root: String, streamId: String, batchId: Long) =
    new File(root, s"_log/txn.$streamId.$batchId")

  private val stagingPrefix = ".txn_"

  /** Version numbers with a commit marker, ascending. Strict
    * `<digits>.commit` match: anything else in `_log` (a crashed
    * writer's leftover, an editor temp file, the txn ledger) must be
    * ignored, not crash every reader forever on the parse. */
  def committedVersions(root: String): Seq[Long] =
    Option(new File(root, "_log").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.matches("^[0-9]+\\.commit$"))
      .map(_.stripSuffix(".commit").toLong).sorted

  def latestVersion(root: String): Option[Long] = committedVersions(root).lastOption

  /** `version` (or the latest) checked against the log — the one
    * resolver every read and every derived commit goes through: an
    * orphan directory is not data. */
  def resolve(root: String, version: Option[Long] = None): Long = {
    val vs = committedVersions(root)
    require(vs.nonEmpty, s"no committed version in $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v),
      s"version $v is not committed in $root (committed: ${vs.mkString(", ")})")
    v
  }

  /** The commit history: (version, commit epoch-millis), log order. The
    * commit INSTANT is the marker's BODY, so TIMESTAMP-AS-OF boundaries
    * survive coarse filesystem timestamp granularity (1 s on some
    * filesystems) and mtime-losing restores (cp without -p, object-store
    * downloads). Zero-byte legacy markers fall back to mtime (the
    * filter+max resolution in [[versionAsOf]] tolerates the reordering
    * a fallback can introduce). Planning-sized: one row per commit. */
  def history(root: String): Seq[(Long, Long)] =
    committedVersions(root).map(v => v -> commitInstant(root, v))

  /** Version `v`'s commit epoch-millis, read from its marker (see
    * [[history]]). */
  def commitInstant(root: String, v: Long): Long = {
    val f = marker(root, v)
    val body = try new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
    catch { case _: java.io.IOException => "" }
    // trust the body only when it parses as a PLAUSIBLE epoch-millis
    // (2001..2099) — a truncated prefix of a current epoch ("17" of
    // "1723…") has too few digits and falls back to mtime instead of
    // time-traveling the marker to 1970
    val epoch =
      if (body.matches("^[0-9]{12,13}$")) Some(body.toLong).filter(t =>
        t > 978307200000L && t < 4102444800000L)
      else None
    epoch.getOrElse(f.lastModified())
  }

  /** The version that was LATEST as of `epochMillis` — the highest
    * version whose marker landed at or before the instant. Filter+max,
    * not a takeWhile scan: a restore that lost mtimes breaks their
    * monotonicity along the version order, and a scan would silently
    * stop at the first out-of-order marker. Throws if the instant
    * predates every commit — "the table did not exist yet" must not
    * silently serve the oldest snapshot. */
  def versionAsOf(root: String, epochMillis: Long): Long = {
    val h = history(root)
    require(h.nonEmpty, s"no committed version in $root")
    h.filter(_._2 <= epochMillis).map(_._1).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot of $root existed at $epochMillis " +
          s"(first commit: v=${h.head._1} at ${h.head._2})"))
  }

  // ---- the storage protocol: one process-wide, scoped selector ----

  @volatile private var protocol: CommitProtocol = RenameCommitProtocol

  /** Run `body` with `p` as the storage commit protocol, restoring the
    * previous one after — the deployment/test seam for the
    * conditional-PUT implementation. Process-global: callers are the
    * specs (serial) and a deployment's one-time setup, not concurrent
    * query code. */
  def withProtocol[T](p: CommitProtocol)(body: => T): T = {
    val prev = protocol
    protocol = p
    try body finally protocol = prev
  }

  // ---- commit ----

  /** A writer-private staging dir filled by `write`; a failed write
    * takes its staging with it. */
  private def stage(root: String)(write: File => Unit): File = {
    val txn = new File(root, s"$stagingPrefix${java.util.UUID.randomUUID}")
    txn.mkdirs()
    try write(txn)
    catch { case e: Throwable => deleteRecursively(txn); throw e }
    txn
  }

  /** Stage `write`'s content and commit it as the next free version
    * (`first` on an empty log) — the full-refresh commit: the content is
    * self-contained, so a lost claim (a concurrent writer owns `v=<n>`,
    * or an orphan sits there) just claims the next number. */
  def commitNext(root: String, first: Long = 1L)(write: File => Unit): Long = {
    val txn = stage(root)(write)
    var v = latestVersion(root).fold(first)(_ + 1)
    while (!protocol.claimVersion(txn, versionDir(root, v))) v += 1
    commitMarker(root, v)
  }

  /** Stage `write`'s content and commit it as EXACTLY version `v` — the
    * read-modify-write commit, whose content DERIVES from `v − 1`:
    * claiming the next free number after a concurrent commit would
    * silently erase that commit from the latest view (a lost update). A
    * lost claim deletes the staging and throws
    * ConcurrentModificationException so the caller re-reads and retries
    * — optimistic concurrency, the Delta/Iceberg commit rule. */
  def commitExactly(root: String, v: Long)(write: File => Unit): Long = {
    val txn = stage(root)(write)
    if (!protocol.claimVersion(txn, versionDir(root, v))) {
      deleteRecursively(txn)
      throw new java.util.ConcurrentModificationException(
        if (committedVersions(root).contains(v))
          s"version $v of $root was committed by a concurrent writer " +
            "since this read-modify-write began; re-read latest and retry"
        else
          s"version $v of $root is claimed but UNCOMMITTED — either a " +
            "concurrent writer mid-commit, or a crashed writer's orphan; if " +
            "no writer is live (e.g. on single-writer stream restart), run " +
            "recoverUncommitted and retry")
    }
    commitMarker(root, v)
  }

  /** Create-if-absent is the atomic commit step (a replace would
    * silently overwrite a concurrent committer's marker); both protocol
    * implementations are CONTENT-atomic, and [[history]] range-checks
    * the body as defense in depth. */
  private def commitMarker(root: String, v: Long): Long = {
    if (!protocol.putIfAbsent(marker(root, v),
        String.valueOf(System.currentTimeMillis()).getBytes("UTF-8")))
      throw new java.nio.file.FileAlreadyExistsException(marker(root, v).toString)
    v
  }

  /** Create `<prefix>.<n>` under version dir `dir`, with the lowest free
    * `n` at or above the count already there, content-atomically through
    * the storage protocol: an append-only record log inside a version
    * (the [[LsmIndex]] erase records). */
  def putNext(dir: File, prefix: String, payload: Array[Byte]): Unit = {
    var n = Option(dir.list()).fold(0)(_.count(_.startsWith(s"$prefix.")))
    while (!protocol.putIfAbsent(new File(dir, s"$prefix.$n"), payload)) n += 1
  }

  // ---- maintenance ----

  /** Delete claimed-but-uncommitted version directories and stale
    * staging dirs — both invisible to readers. An orphan claim blocks
    * every exact-version retry of its number forever. ONLY safe when no
    * other writer can be mid-commit; the caller asserts that. Returns
    * the removed version numbers. */
  def recoverUncommitted(root: String): Seq[Long] = {
    val entries = Option(new File(root).listFiles()).getOrElse(Array.empty)
    entries.filter(d => d.isDirectory && d.getName.startsWith(stagingPrefix))
      .foreach(deleteRecursively)
    val committed = committedVersions(root).toSet
    entries
      .filter(d => d.isDirectory && d.getName.matches("^v=[0-9]+$"))
      .map(d => d -> d.getName.stripPrefix("v=").toLong)
      .filterNot { case (_, v) => committed(v) }
      .map { case (d, v) => deleteRecursively(d); v }
      .sorted.toSeq
  }

  /** Retention sweep: keep the newest `keep` committed versions, drop
    * the rest — MARKER FIRST (the version leaves resolution in one
    * delete), THEN its data directory, so a crash mid-vacuum leaves only
    * invisible orphans. A marker that cannot be deleted throws before
    * its data is touched: a resolvable version never loses its data.
    * Returns the dropped versions. The caller owns the pin contract. */
  def vacuum(root: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least the latest version")
    val drop = committedVersions(root).dropRight(keep)
    drop.foreach { v =>
      java.nio.file.Files.deleteIfExists(marker(root, v).toPath)
      deleteRecursively(versionDir(root, v))
    }
    drop
  }

  /** Delete `f` and everything under it, best effort — the one delete
    * for staging dirs, orphans, vacuumed versions and index sidecars. */
  private[graft] def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  // ---- streaming-transaction ledger ----

  /** The Delta `txn` action's role: a committed (stream id, batch id)
    * pair recorded as `_log/txn.<id>.<batch>`, holding the version that
    * batch produced — how an at-least-once sink turns replay into a
    * no-op at COMMIT level. The mark lands AFTER the version commit, so
    * a crash between the two degrades to content-level idempotence (a
    * duplicate version, never wrong data). Content-atomic
    * create-if-absent: a racing [[txnVersion]] never parses a partial
    * number, and a double replay never double-marks. */
  def txnMark(root: String, streamId: String, batchId: Long, v: Long): Unit = {
    require(!streamId.contains("/") && !streamId.contains("."),
      s"streamId must be path- and ledger-safe: $streamId")
    val f = ledger(root, streamId, batchId)
    f.getParentFile.mkdirs()
    PosixAtomic.createWithContent(f.toPath, v.toString.getBytes("UTF-8"))
    ()
  }

  /** The version a (stream, batch) pair committed — None means the batch
    * never committed (or crashed before marking, which replays safely). */
  def txnVersion(root: String, streamId: String, batchId: Long): Option[Long] = {
    val f = ledger(root, streamId, batchId)
    if (!f.isFile) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.toLong)
  }
}

/** The storage seam of [[SnapshotLog]]'s claim-then-commit publish: two
  * CONDITIONAL-CREATE primitives. POSIX supplies them as atomic
  * rename-no-replace and link(2)/O_EXCL creation
  * ([[RenameCommitProtocol]]); an object store supplies them as
  * conditional PUTs (`If-None-Match: *` — S3/GCS/ABFS all have it),
  * which [[ConditionalPutCommitProtocol]] models so the SAME log logic
  * runs against both shapes in the concurrency specs. The names are
  * the log's; a protocol only moves and creates. */
trait CommitProtocol {
  /** Atomically move the fully-staged `txn` dir to `target`: true iff
    * THIS caller won the name; false iff it was already taken (lost race
    * / pre-existing claim), `txn` left untouched. Other failures throw. */
  def claimVersion(txn: File, target: File): Boolean

  /** Atomically create `target` with `payload` as its body: true iff
    * this caller created it, false iff it already existed. */
  def putIfAbsent(target: File, payload: Array[Byte]): Boolean
}

/** The POSIX implementation — rename(2) without replace is the atomic
  * claim (two movers into one target: exactly one wins), content-atomic
  * link(2) creation the marker. No mutex: the kernel is the arbiter. */
object RenameCommitProtocol extends CommitProtocol {
  override def claimVersion(txn: File, target: File): Boolean =
    try {
      java.nio.file.Files.move(txn.toPath, target.toPath)
      true
    } catch {
      // a lost claim surfaces as FileAlreadyExists from the pre-check,
      // OR as the raw rename(2) ENOTEMPTY — on Linux a generic
      // FileSystemException, not the DirectoryNotEmptyException
      // subclass. Classify by the target: if it now exists, a
      // concurrent writer won the race; anything else is a real error.
      case e: java.nio.file.FileSystemException =>
        if (target.exists()) false else throw e
    }

  override def putIfAbsent(target: File, payload: Array[Byte]): Boolean = {
    target.getParentFile.mkdirs()
    PosixAtomic.createWithContent(target.toPath, payload)
  }
}

/** CONTENT-atomic create-if-absent on POSIX: a
  * plain O_EXCL `Files.write` is name-atomic but not content-atomic — a
  * reader racing the commit could observe a partially written numeric
  * body ("17" of "1723…"), which parses as a near-1970 commit instant
  * and transiently corrupts TIMESTAMP-AS-OF resolution. Writing the
  * full payload to a temp name and `link(2)`-ing it into place keeps
  * BOTH properties: link fails EEXIST atomically when the target is
  * already claimed, and a target that exists always has its complete
  * body (the inode is fully written before it gains the visible name). */
private[etl] object PosixAtomic {
  /** Per-directory link(2) support: a transient I/O error
    * (EIO, quota, EPERM-of-the-moment) on a link-capable filesystem
    * must SURFACE, not silently downgrade the content-atomicity
    * guarantee — only a directory whose own probe link fails is
    * treated as link-less. Only the POSITIVE result is cached: a probe that fails during the same transient condition
    * that tripped the caller must not pin "link-less" for the JVM's
    * lifetime — the next call re-probes, so the degraded path persists
    * only while the failure does. */
  private val linkSupport =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def linksSupported(dir: java.nio.file.Path): Boolean = {
    if (linkSupport.containsKey(dir.toString)) return true
    val ok =
      try {
        val probe = java.nio.file.Files.createTempFile(dir, ".linkprobe", ".tmp")
        val lnk = probe.resolveSibling(probe.getFileName.toString + ".lnk")
        try { java.nio.file.Files.createLink(lnk, probe); true }
        catch {
          case _: UnsupportedOperationException |
               _: java.nio.file.FileSystemException => false
        } finally {
          java.nio.file.Files.deleteIfExists(lnk)
          java.nio.file.Files.deleteIfExists(probe)
        }
      } catch { case _: java.io.IOException => false }
    if (ok) linkSupport.put(dir.toString, java.lang.Boolean.TRUE)
    ok
  }

  def createWithContent(target: java.nio.file.Path, payload: Array[Byte]): Boolean = {
    // link-less filesystem (FUSE object-store mount, VFAT): degrade to
    // a plain O_EXCL write — name-atomic but not content-atomic;
    // history()'s epoch range check covers the partial-body window as
    // defense in depth
    def degraded(): Boolean =
      try {
        java.nio.file.Files.write(target, payload,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    try {
      // the staging write sits INSIDE the cleanup scope: a disk-full /
      // crash mid-write must not leave an orphaned tmp per retry
      java.nio.file.Files.write(tmp, payload)
      try {
        java.nio.file.Files.createLink(target, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException => degraded()
        case e: java.nio.file.FileSystemException =>
          // only degrade when the DIRECTORY is link-less; a transient
          // error on a link-capable filesystem propagates
          if (!linksSupported(target.getParent)) degraded() else throw e
      }
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }
}

/** The object-store shape: each primitive is a conditional PUT — probe
  * the name, create it only if absent, with the probe+put made atomic
  * PER KEY. On S3/GCS/ABFS that atomicity is server-side
  * (`If-None-Match: *` / x-ms-if-none-match); here it is modeled by a
  * per-key mutex: no rename race anywhere, and deletes (orphan
  * recovery, vacuum) free the name again because the STORE stays the
  * ground truth — there is no side-channel state to reconcile.
  * Instantiate one per test/deployment; the key space is scoped to the
  * instance. */
final class ConditionalPutCommitProtocol extends CommitProtocol {
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def locked[T](key: File)(body: => T): T =
    locks.computeIfAbsent(key.getPath, _ => new Object).synchronized(body)

  override def claimVersion(txn: File, target: File): Boolean =
    locked(target) {
      if (target.exists()) false
      else {
        // the winner's materialization is uncontended by construction
        // (it holds the name): an object store would now copy the
        // staged objects under the claimed prefix / write the manifest
        java.nio.file.Files.move(txn.toPath, target.toPath)
        true
      }
    }

  override def putIfAbsent(target: File, payload: Array[Byte]): Boolean =
    locked(target) {
      target.getParentFile.mkdirs()
      if (target.exists()) false
      else {
        // a conditional PUT is content-atomic server-side; model that
        // for the lock-free READERS too — stage the body and move it
        // into the visible name in one step. finally-cleanup: a
        // failure between write and move must not leave an
        // orphaned .tmp in the log for the next writer to trip over.
        val tmp = target.toPath.resolveSibling(s".${target.getName}.tmp")
        try {
          java.nio.file.Files.write(tmp, payload)
          java.nio.file.Files.move(tmp, target.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } finally java.nio.file.Files.deleteIfExists(tmp)
        true
      }
    }
}
