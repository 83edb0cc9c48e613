package graft.store

import java.io.File
import java.nio.file.Files

/** Cross-JVM run-once fence for maintenance jobs (closes the r15
  * "what's missing #3"): MV full rebuilds and ANN re-seeds are
  * idempotent rebuilds behind their own generation fences, but before
  * r16 nothing stopped two GATEWAYS sharing a warehouse from both
  * executing the same rebuild — the [[TableManifest]] CAS pattern
  * (atomic create-with-content) restated as a job claim. A unit of
  * work is `(job, token)` — token names the state the rebuild targets
  * (the store's commit-log head for an MV rebuild, the index version
  * for a reseed), so a NEW head mints a new token and legitimately
  * re-runs, while two JVMs racing the SAME unit see exactly one winner.
  *
  * A crashed winner's claim ages out: past `staleMs` a new claimant
  * deletes and re-claims. Delete+create is not atomic, so two JVMs
  * racing a STALE claim can in principle both win — the job is an
  * idempotent rebuild that flips behind a generation fence, so the
  * rare double-run costs cycles, never correctness (the same posture
  * as TableManifest's checkpoint write). On filesystems without
  * atomic link (S3), run maintenance from a single scheduler —
  * SCALE.md §multi-driver. */
object MaintenanceFence {

  private def safe(s: String): String = s.replaceAll("[^A-Za-z0-9._-]", "_")

  private def fenceDir(dir: String): File = new File(dir, "_fence")

  private def marker(dir: String, job: String, token: String): File =
    new File(fenceDir(dir), s"${safe(job)}@${safe(token)}.claim")

  /** Claim `(job, token)` under `dir`: true = this process runs the
    * job; false = another claimed it (skip — the work is already
    * running or done). */
  def claim(dir: String, job: String, token: String,
      staleMs: Long = 30 * 60 * 1000L): Boolean = {
    val fd = fenceDir(dir)
    Files.createDirectories(fd.toPath)
    val m = marker(dir, job, token)
    // housekeeping: superseded tokens' claims for the same job age out
    // after a day — the fence dir stays O(live jobs), not O(history)
    Option(fd.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(safe(job) + "@") &&
        f.getName != m.getName &&
        f.lastModified() < System.currentTimeMillis() - 24 * 3600 * 1000L)
      .foreach(f => f.delete(): Unit)
    if (tryCreate(m)) true
    else {
      val mtime = m.lastModified()
      if (mtime > 0 && mtime < System.currentTimeMillis() - staleMs) {
        // stale claim — crashed winner; take over (see class doc for
        // the benign non-atomicity here)
        m.delete()
        tryCreate(m)
      } else false
    }
  }

  /** Release a claim explicitly — for jobs whose token does NOT advance
    * on completion (re-running them later must be possible without
    * waiting out staleMs). Jobs whose token is a version/generation
    * never need this: completion advances the token. */
  def release(dir: String, job: String, token: String): Unit = {
    marker(dir, job, token).delete(): Unit
  }

  /** Touch the claim's mtime — the winner's liveness heartbeat. A
    * rebuild that legitimately outlasts `staleMs` would otherwise be
    * taken over mid-flight by a new claimant reading its silence as a
    * crash; heartbeating makes staleness mean CRASHED, not slow (the
    * same discipline as [[ManifestTail]]'s marker heartbeat). */
  def heartbeat(dir: String, job: String, token: String): Unit = {
    marker(dir, job, token).setLastModified(System.currentTimeMillis()): Unit
  }

  /** Claim-and-run with an automatic heartbeat: if this process wins
    * `(job, token)`, run `body` while a daemon thread touches the claim
    * every `staleMs / 3`, so a slow-but-alive winner is never usurped.
    * Returns `Some(result)` for the winner, `None` for a loser. A
    * FAILED body releases the claim (a retry must not no-op for the
    * next `staleMs`); a successful one leaves it, relying on the token
    * advancing (or the caller releasing) as usual. */
  def withClaim[T](dir: String, job: String, token: String,
      staleMs: Long = 30 * 60 * 1000L)(body: => T): Option[T] = {
    if (!claim(dir, job, token, staleMs)) return None
    val stop = new java.util.concurrent.CountDownLatch(1)
    val beat = new Thread(() => {
      while (!stop.await(math.max(1L, staleMs / 3),
          java.util.concurrent.TimeUnit.MILLISECONDS))
        heartbeat(dir, job, token)
    }, s"fence-heartbeat-${safe(job)}")
    beat.setDaemon(true)
    beat.start()
    try Some(body)
    catch { case e: Throwable => release(dir, job, token); throw e }
    finally { stop.countDown(); beat.join(1000) }
  }

  /** Claim by atomic create-with-content ([[TableManifest.casCreate]]):
    * no reader sees a partial claim. */
  private def tryCreate(m: File): Boolean =
    TableManifest.casCreate(m,
      java.lang.management.ManagementFactory.getRuntimeMXBean.getName +
        " " + System.currentTimeMillis())
}
