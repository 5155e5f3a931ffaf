package graft

import graft.etl.CommitProtocol

/** A [[CommitProtocol]] that delegates to `inner` and runs `hook` once:
  * at the first version claim (`atClaim`), or just after the first
  * commit marker is created. The seam for deterministic interleavings of
  * a second writer with a publish — the hook runs while the publish is
  * stopped at exactly that point. */
final class HookedProtocol(inner: CommitProtocol, atClaim: Boolean)(hook: => Unit)
    extends CommitProtocol {
  private var fired = false

  private def fire(): Unit = if (!fired) { fired = true; hook }

  override def claimVersion(txn: java.io.File, target: java.io.File): Boolean = {
    if (atClaim) fire()
    inner.claimVersion(txn, target)
  }

  override def putIfAbsent(target: java.io.File, payload: Array[Byte]): Boolean = {
    val created = inner.putIfAbsent(target, payload)
    if (!atClaim && created && target.getName.endsWith(".commit")) fire()
    created
  }
}
