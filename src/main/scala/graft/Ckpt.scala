package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Deterministic lifecycle for PER-QUERY eager local checkpoints — the
  * r13 "orphaned checkpoint blocks" fix, at the cause instead of the
  * symptom.
  *
  * A `localCheckpoint(true)` materializes RDD blocks that nothing ever
  * unpersists: after the query's terminal action the blocks sit in
  * storage memory until a JVM GC collects the dropped DataFrame refs
  * and ContextCleaner notices — in a 200-query suite (or any
  * long-lived Thrift-server-style session) the accumulation squeezed
  * execution memory until untouched queries measured 1.5–2× their
  * isolated cost, and the r13 bench papered over it with a
  * `System.gc()` every 8 queries.
  *
  * The deterministic contract instead:
  *
  *  - [[eager]] replaces a bare `df.localCheckpoint(true)` at every
  *    non-memoized site: same eager materialization, but the frame is
  *    REGISTERED against its session.
  *  - [[beginQuery]] runs when the next top-level query on the same
  *    session begins (wired once, in `SparkEntry.queries`' thunks —
  *    every driver/Verify/Thrift-style caller goes through that
  *    map): all frames the previous query registered are unpersisted
  *    on the spot. Steady-state storage is therefore ONE query's
  *    bounded checkpoint set, never a growing pile waiting for GC.
  *  - [[drop]] releases a SUPERSEDED checkpoint immediately inside
  *    iterative driver loops (BPE / Lloyd / connected components): the
  *    successor's eager materialization has already read the
  *    predecessor's blocks, so the predecessor is dead the moment the
  *    successor exists — per-iteration storage stays one frame, not
  *    one per round.
  *
  * The registry is scoped per (session, DRIVER THREAD), not per
  * session (r14 verdict item 3): two statements interleaving on one
  * session — the Thrift-server scenario, one connection thread each —
  * register into separate scopes, so one statement's `beginQuery`
  * can never unpersist a mid-flight sibling's frames. The contract is
  * therefore: frames register on the thread that CONSTRUCTS the query
  * (all graft query fns build their plans on the calling thread), and
  * release when the SAME thread begins its next statement.
  *
  * Consequence, stated not hidden: a query's returned DataFrame is
  * valid until the NEXT query on the same session AND thread is
  * constructed (its plan may scan the registered blocks). That is the
  * result-set contract of every warehouse session — consume the
  * result, then issue the next statement; a caller needing a
  * longer-lived frame writes it out (StarBuilder) or owns a memoized
  * artifact (SessionMemo frames never register here and live for the
  * session).
  */
private[graft] object Ckpt {
  /** A driver-sized frame collected into a local relation: reading it
    * back (or a projection of it) runs no job. Not registered — the
    * rows live on the driver heap, not in the block store. */
  def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)

  private final case class Scope(session: SparkSession, threadId: Long)

  /** A scope's frames plus a weak ref to the OWNING thread — the weak
    * ref is what makes the r15 leak fixable: a thread-per-statement
    * pool retires threads that never issue another statement, so their
    * scopes' frames would otherwise sit registered forever, and a JVM
    * that reuses a retired thread's id would alias a NEW thread into
    * the stale scope. Holding the Thread weakly lets [[buf]] detect id
    * reuse (same id, different Thread object → release the dead
    * owner's frames and start fresh) and lets [[sweep]] release scopes
    * whose owner is gone, without pinning retired threads in memory. */
  private final class Entry(val owner: java.lang.ref.WeakReference[Thread],
                            val frames: ArrayBuffer[DataFrame])

  private val live =
    new java.util.concurrent.ConcurrentHashMap[Scope, Entry]()

  private def release(b: ArrayBuffer[DataFrame]): Unit =
    b.synchronized { b.foreach(_.unpersist(false)); b.clear() }

  private def buf(s: SparkSession): ArrayBuffer[DataFrame] = {
    val t = Thread.currentThread()
    val e = live.compute(Scope(s, t.getId), (_, old) =>
      if (old != null && (old.owner.get eq t)) old
      else {
        // a reused thread id: the previous owner is dead, its frames
        // unreachable by its own beginQuery — release them here
        if (old != null) release(old.frames)
        new Entry(new java.lang.ref.WeakReference(t), ArrayBuffer.empty)
      })
    e.frames
  }

  /** Release scopes on `s` whose owning thread has exited (pooled
    * executor rotation) — their frames can never be released by their
    * own next `beginQuery`, so each live thread's begin sweeps for the
    * session. O(#scopes on the session), driver-side bookkeeping only. */
  private def sweep(s: SparkSession): Unit = {
    val it = live.entrySet().iterator()
    while (it.hasNext) {
      val en = it.next()
      if (en.getKey.session eq s) {
        val owner = en.getValue.owner.get
        if (owner == null || !owner.isAlive) { release(en.getValue.frames); it.remove() }
      }
    }
  }

  /** Session-wide release — every scope on `s`, every thread. Call on
    * session close or at the end of a bench/suite run; the Thrift
    * analog is the connection-close hook. */
  def releaseAll(s: SparkSession): Unit = {
    val it = live.entrySet().iterator()
    while (it.hasNext) {
      val en = it.next()
      if (en.getKey.session eq s) { release(en.getValue.frames); it.remove() }
    }
  }

  /** Eager local checkpoint whose blocks are released when the next
    * top-level query on this session begins. */
  def eager(df: DataFrame): DataFrame = {
    val m = df.localCheckpoint(true)
    val b = buf(m.sparkSession)
    b.synchronized { b += m }
    m
  }

  /** MEMORY_AND_DISK persist registered for release when the next
    * top-level query begins — for corpus-ROWS-sized NARROW frames a
    * query's plan would otherwise re-execute per branch (q82's
    * quality-scored projection). Eager local checkpoints are for
    * bounded frames; a persist spills under pressure, evicts, and
    * keeps its lineage, so releasing it is always safe. Lazy — the
    * first action materializes it. */
  def persisted(df: DataFrame): DataFrame = {
    val m = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = buf(m.sparkSession)
    b.synchronized { b += m }
    m
  }

  /** Immediately release a superseded loop-iteration checkpoint (safe
    * once its successor is eagerly materialized). Non-blocking. */
  def drop(df: DataFrame): Unit = df.unpersist(false)

  /** Release every checkpoint the PREVIOUS query registered on this
    * session BY THIS THREAD. Called from `SparkEntry.queries`' thunks
    * only — module query fns invoke each other directly, so
    * composition never releases a frame its caller still needs; and
    * scoping by thread means a concurrent statement on another
    * connection thread keeps its frames (CkptSpec pins both). */
  def beginQuery(s: SparkSession): Unit = {
    release(buf(s))
    sweep(s)
  }
}
