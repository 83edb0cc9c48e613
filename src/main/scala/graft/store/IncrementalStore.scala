package graft.store

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

/** The one lifecycle of the six incremental stores. Every store keeps
  * its state in the [[VersionedState]] layout (immutable `v=N` dirs,
  * `_CURRENT` = `version:lastBatchId` flipped atomically) and supplies
  * two steps: [[bootstrap]] writes v=1 from a non-empty batch, and
  * [[advance]] folds a non-empty batch into an existing store as the
  * next version. Everything else is defined here, once, so the copies
  * cannot drift apart (the AnnIndex empty-batch version gap was one
  * copy drifting from the others).
  *
  * The replay fence is the idempotent sink keyed by epoch id from
  * Structured Streaming (Armbrust et al., SIGMOD 2018 §6): the pointer
  * records the high-water micro-batch id, a replayed batch (at-least-
  * once delivery after crash recovery) is at or below it and skipped,
  * and an EMPTY batch (any idle trigger) advances only the recorded id
  * with a pointer-only flip, never a version — so the version sequence
  * stays contiguous and each store is exactly-once.
  *
  * Two families fill in the steps: [[MergeStore]] (algebraic state,
  * read-merge-write) and [[PostingStore]] (append-only postings). */
trait IncrementalStore {

  /** Write the store's first version at `path` from a non-empty batch. */
  protected def bootstrap(delta: DataFrame, path: String, batchId: Long): Unit

  /** Fold a non-empty batch into the existing store as its next version. */
  protected def advance(delta: DataFrame, path: String, batchId: Long): Unit

  /** Bootstrap the store if absent, else advance it — the unfenced
    * write step for a single writer that never replays (`batchId` -1
    * when there is no stream). */
  def fold(delta: DataFrame, path: String, batchId: Long): Unit =
    if (VersionedState.exists(path)) advance(delta, path, batchId)
    else bootstrap(delta, path, batchId)

  /** One micro-batch of [[maintain]]: [[fold]] behind the replay fence;
    * an empty batch only moves the fence. */
  def maintainBatch(delta: DataFrame, path: String, batchId: Long): Unit =
    if (IncrementalStore.admits(path, batchId)) {
      if (!delta.isEmpty) fold(delta, path, batchId)
      else if (VersionedState.exists(path))
        VersionedState.writePointer(path,
          VersionedState.currentVersion(path), batchId)
    }

  /** Maintain the store CONTINUOUSLY from a stream: every micro-batch
    * goes through [[maintainBatch]]. */
  def maintain(stream: DataFrame, path: String): DataStreamWriter[Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (delta: DataFrame, batchId: Long) => maintainBatch(delta, path, batchId)
    }
}

object IncrementalStore {

  /** The replay fence: whether micro-batch `batchId` is new to the store
    * at `path` — always for an absent store, else only above the
    * persisted high-water mark. */
  def admits(path: String, batchId: Long): Boolean =
    !VersionedState.exists(path) || batchId > VersionedState.lastBatchId(path)
}

/** A store whose state is ALGEBRAIC: per-batch [[partial]]s combine
  * with a commutative + associative [[merge]], so a refresh costs
  * O(delta) + O(|state|) and batch layout cannot change the result. */
trait MergeStore extends IncrementalStore {

  /** Partial state of one batch — the only pass that sees raw rows. */
  def partial(batch: DataFrame): DataFrame

  /** Merge any number of state frames. */
  def merge(states: DataFrame*): DataFrame

  /** Write the first state version for `batch` at `path`. */
  def initialize(batch: DataFrame, path: String, batchId: Long = -1L): Unit =
    writeVersion(partial(batch), path, 1, batchId)

  /** Fold a delta batch into the persisted state: resolve the current
    * version ONCE, merge the delta's partial into that version's state,
    * write the NEXT version and flip the pointer. Parquet cannot be
    * read and overwritten in place, so a concurrent reader sees the old
    * or the new state, never a torn one. */
  def refresh(spark: SparkSession, delta: DataFrame, path: String,
      batchId: Long = -1L): Unit = {
    val v = VersionedState.currentVersion(path)
    writeVersion(
      merge(VersionedState.readVersion(spark, path, v), partial(delta)),
      path, v + 1, batchId)
  }

  private def writeVersion(state: DataFrame, path: String, v: Long,
      batchId: Long): Unit = {
    state.write.mode("overwrite").parquet(VersionedState.versionDir(path, v))
    VersionedState.writePointer(path, v, batchId)
  }

  /** Remove superseded state versions (see [[VersionedState.compact]]). */
  def compact(path: String, grace: Int = 1): Unit =
    VersionedState.compact(path, grace)

  protected def bootstrap(delta: DataFrame, path: String, batchId: Long): Unit =
    initialize(delta, path, batchId)

  protected def advance(delta: DataFrame, path: String, batchId: Long): Unit =
    refresh(delta.sparkSession, delta, path, batchId)
}

/** A store whose versions are append-only postings: each append lands
  * an immutable `v=N` dir partitioned by [[partitionCol]] (the probe's
  * pruning grain), readers union the live dirs, and [[compactPostings]]
  * consolidates them. New rows never need merging with old ones, so the
  * union IS the merge. */
trait PostingStore extends IncrementalStore {

  /** Partition column of every version dir. */
  protected def partitionCol: String

  /** Copy version `from`'s pre-flip sidecar to the consolidated version
    * `to` during compaction (none by default). */
  protected def carrySidecar(path: String, from: Long, to: Long): Unit = ()

  /** Append a delta as version `expected`; false if that version already
    * exists (the replay fence of batch-API appends). */
  def append(spark: SparkSession, delta: DataFrame, path: String,
      expected: Long, batchId: Long): Boolean

  protected def advance(delta: DataFrame, path: String, batchId: Long): Unit =
    append(delta.sparkSession, delta, path,
      VersionedState.currentVersion(path) + 1, batchId): Unit

  /** The version fence of [[append]]: a replay targeting an existing
    * version is a no-op (false); otherwise `write` runs with the
    * current version, which `expected` must directly follow. */
  protected def appendAt(path: String, expected: Long)(
      write: Long => Unit): Boolean = {
    val cur = VersionedState.currentVersion(path)
    if (expected <= cur) false
    else {
      require(expected == cur + 1, s"append $expected against current $cur")
      write(cur)
      true
    }
  }

  /** Write postings as version `v`, then the pre-flip `sidecar`, then
    * flip the pointer: a reader that resolves `v` always finds both. */
  protected def writePostings(p: DataFrame, path: String, v: Long,
      batchId: Long)(sidecar: => Unit): Unit = {
    writeDir(p, path, v)
    sidecar
    VersionedState.writePointer(path, v, batchId)
  }

  /** Co-locate each partition before the write: one file set per
    * partition dir instead of (input partitions × partitions) small
    * files. */
  private def writeDir(p: DataFrame, path: String, v: Long): Unit =
    p.repartition(col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol)
      .parquet(VersionedState.versionDir(path, v))

  /** First version dir still carrying live postings when `_CURRENT` is
    * `cur`: versions below the `_BASE` marker were consolidated into it
    * and are superseded. The marker carries `base:previousBase` — a base
    * beyond `cur` is an in-flight rewrite that never flipped the
    * pointer, so readers fall back to the PREVIOUS base (whose dirs
    * still exist; falling back to 1 would point at dirs an earlier
    * compaction already deleted). */
  protected def baseVersion(path: String, cur: Long): Long =
    VersionedState.readMarker(path, "_BASE").map { s =>
      val parts = s.split(':')
      val b = parts(0).toLong
      if (b <= cur) b
      else if (parts.length > 1) parts(1).toLong
      else 1L
    }.getOrElse(1L)

  /** All live postings: the union of the immutable version dirs from
    * the base to `_CURRENT`. `basePath` makes them one partitioned
    * layout, so the partition column still prunes. */
  def postings(spark: SparkSession, path: String): DataFrame = {
    val cur = VersionedState.currentVersion(path)
    val dirs = (baseVersion(path, cur) to cur)
      .map(VersionedState.versionDir(path, _))
    spark.read.option("basePath", path).parquet(dirs: _*).drop("v")
  }

  /** Consolidate all live postings into ONE version dir with one file
    * set per partition — the small-files job an append-only store needs
    * at scale (every streamed append lands a file set per touched
    * partition, and probe-time footer reads come to dominate scan
    * cost). Rewrites the union as `cur+1`, marks it the new `_BASE`,
    * flips the pointer keeping the batch fence, and deletes the
    * superseded dirs. Crash-safe at every step: the base marker only
    * takes effect once `_CURRENT` reaches it. Appends continue from
    * `cur+2`.
    *
    * `deferDeletion=true` makes compaction safe under concurrent
    * readers: a reader resolves the FULL live dir set [base..cur], and
    * compaction supersedes exactly that set, so the only window that
    * protects an in-flight reader is keeping the ENTIRE superseded set
    * until the NEXT compaction (which then removes every dir below the
    * old base). The default deletes immediately — single-maintainer,
    * no-concurrent-reader semantics. */
  def compactPostings(spark: SparkSession, path: String,
      deferDeletion: Boolean = false): Unit = {
    val cur = VersionedState.currentVersion(path)
    val oldBase = baseVersion(path, cur)
    if (oldBase < cur) {
      val v = cur + 1
      writeDir(postings(spark, path), path, v)
      carrySidecar(path, cur, v)
      rebase(path, v, oldBase, if (deferDeletion) oldBase else v)
    }
  }

  /** Publish the complete version dir `v` as the new base: `_BASE`
    * marker, pointer flip keeping the batch fence, then delete the
    * version dirs below `cutoff`. */
  protected def rebase(path: String, v: Long, oldBase: Long,
      cutoff: Long): Unit = {
    VersionedState.writeMarker(path, "_BASE", s"$v:$oldBase")
    VersionedState.writePointer(path, v, VersionedState.lastBatchId(path))
    VersionedState.deleteVersionsBelow(path, cutoff)
  }
}
