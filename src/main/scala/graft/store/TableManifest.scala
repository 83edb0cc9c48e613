package graft.store

import java.io.File
import java.nio.file.Files

/** Versioned commit log + checkpoints for an [[EventStore]] table — the
  * reader side of the multi-driver story (r14 made WRITERS safe with
  * staged appends and file-scoped compaction; this closes the residual
  * gap SCALE.md named: a reader listing a partition mid-compaction
  * could briefly see old AND new copies of a rewritten row).
  *
  * The [[graft.store.AnnIndex]] generation fence, generalized: a
  * table's committed state is the file LIST reached by folding its
  * `_manifests/` commit log, not whatever a directory listing happens
  * to return. Each commit `commit-v{N}.txt` holds only its DELTA
  * (`+path` / `-path` lines) — an append commits O(batch files) bytes
  * no matter how many files the table holds, the property that keeps
  * the log writable at 100 TB table sizes (a full-list-per-commit
  * manifest would rewrite ~10⁵–10⁶ lines per micro-batch; this is the
  * same reason Delta/Iceberg are logs with checkpoints, not one
  * rewritten list). Readers fold from the newest `checkpoint-v{M}.txt`
  * (full list, written every [[CheckpointEvery]] commits, atomically,
  * by whichever writer crosses the threshold) plus the ≤CheckpointEvery
  * commits after it — O(delta) write cost, O(checkpoint + few deltas)
  * read cost.
  *
  * Writers commit version N+1 by an atomic create-with-content of its
  * commit file (full content visible or nothing): on the local
  * filesystem that is a hard link from a written tmp file; on HDFS
  * the same CAS is `rename` WITHOUT overwrite (atomic, fails if the
  * target exists); object stores without either front the CAS with a
  * coordinator (SCALE.md §multi-driver). A loser re-reads and
  * replays its delta (set operations — exact over any winner's
  * baseline). Readers pin one version per query — the DataFrame's file
  * list is fixed at resolution, so a scan races nothing. The reference
  * gets all of this from Postgres MVCC
  * (PostgresqlEventStore.java:83-101); on a file store it has to be
  * built.
  *
  * Physical deletion is DECOUPLED from logical removal: compaction
  * commits a delta that drops the rewritten files but leaves them on
  * disk for readers pinned to older versions; [[vacuum]] later removes
  * files no retained version references. (The one exception is
  * right-to-be-forgotten, where prompt physical erasure outranks
  * reader snapshot stability — [[EventStore.deleteUser]] deletes
  * immediately after its commit.)
  *
  * Pre-manifest tables migrate seamlessly: the first commit ADOPTS the
  * on-disk file set into its delta, and readers fall back to the
  * directory listing until a log exists.
  */
private[graft] object TableManifest {

  val DirName = "_manifests"

  /** A full-list checkpoint every this many commits: readers fold at
    * most this many delta files, and vacuum can drop the log's tail
    * behind the previous checkpoint. */
  val CheckpointEvery = 16

  private val CommitName = raw"commit-v(\d{9})\.txt".r
  private val CheckpointName = raw"checkpoint-v(\d{9})\.txt".r

  private def manifestDir(table: String) = new File(table, DirName)
  private def commitFile(table: String, v: Long) =
    new File(manifestDir(table), f"commit-v$v%09d.txt")
  private def checkpointFile(table: String, v: Long) =
    new File(manifestDir(table), f"checkpoint-v$v%09d.txt")

  private def listVersions(table: String, re: scala.util.matching.Regex): Seq[Long] = {
    val d = manifestDir(table)
    if (!d.isDirectory) Nil
    else Option(d.list()).getOrElse(Array.empty).collect {
      case re(v) => v.toLong
    }.toSeq.sorted
  }

  def exists(table: String): Boolean = latestVersion(table).isDefined

  def latestVersion(table: String): Option[Long] =
    listVersions(table, CommitName).maxOption

  private def readLines(f: File): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(f.toPath).asScala.filter(_.nonEmpty).toSeq
  }

  /** The delta of one commit: (adds, removes) — the unit
    * [[ManifestTail]] walks to distinguish appends from rewrites. */
  private[store] def commitDelta(table: String, v: Long): (Seq[String], Seq[String]) =
    readCommit(table, v)

  /** The commit's annotation, if the writer recorded one ('#note=…'). */
  private[store] def commitNote(table: String, v: Long): Option[String] =
    readLines(commitFile(table, v))
      .find(_.startsWith("#note=")).map(_.stripPrefix("#note="))

  /** The delta of one commit: (adds, removes). */
  private def readCommit(table: String, v: Long): (Seq[String], Seq[String]) = {
    val (adds, removes) = readLines(commitFile(table, v)).partition(_.startsWith("+"))
    (adds.map(_.tail), removes.filter(_.startsWith("-")).map(_.tail))
  }

  /** The committed file list at one version: newest checkpoint ≤ v,
    * plus the commit deltas after it, folded in order. */
  def filesAt(table: String, v: Long): Set[String] = {
    val ckpt = listVersions(table, CheckpointName).filter(_ <= v).maxOption
    val base: Set[String] = ckpt match {
      case Some(cv) => readLines(checkpointFile(table, cv)).toSet
      case None => Set.empty
    }
    ((ckpt.getOrElse(0L) + 1) to v).foldLeft(base) { (acc, cv) =>
      val (adds, removes) = readCommit(table, cv)
      acc -- removes ++ adds
    }
  }

  /** Newest committed (version, file list), if any commit exists. */
  def latest(table: String): Option[(Long, Set[String])] =
    latestVersion(table).map(v => v -> filesAt(table, v))

  /** All committed `part-*` data files currently on disk — the adopt
    * baseline for a table predating the manifest layer, and vacuum's
    * view of physical state. Skips hidden/staging/system dirs with the
    * same rule as the staged-append publish: only `key=value` partition
    * dirs are descended. */
  def diskFiles(table: String): Set[String] = {
    val root = new File(table)
    def walk(dir: File, prefix: String): Iterator[String] =
      Option(dir.listFiles()).getOrElse(Array.empty).iterator.flatMap { f =>
        if (f.isDirectory && f.getName.contains("="))
          walk(f, s"$prefix${f.getName}/")
        else if (f.isFile && f.getName.startsWith("part-"))
          Iterator(s"$prefix${f.getName}")
        else Iterator.empty
      }
    if (!root.isDirectory) Set.empty else walk(root, "").toSet
  }

  /** Commit a delta: CAS-create the next commit file; on losing the
    * race, re-read and replay. Returns the committed version. A table
    * with no log adopts the on-disk file set into its first commit (so
    * fold(1) is complete — a first commit can already be a rewrite).
    * Whichever writer crosses a [[CheckpointEvery]] boundary also
    * writes the checkpoint (atomic create; the content is derived from
    * the fold, so concurrent attempts at the same version are
    * byte-identical and losers simply skip). */
  def commit(table: String, add: Iterable[String],
      remove: Iterable[String] = Nil, note: Option[String] = None): Long = {
    Files.createDirectories(manifestDir(table).toPath)
    var attempt = 0
    while (true) {
      val prevV = latestVersion(table).getOrElse(0L)
      val adopt = if (prevV == 0L) diskFiles(table) -- add else Set.empty[String]
      val removeSet = remove.toSet
      val addLines = (adopt ++ add).filterNot(removeSet.contains)
        .toSeq.sorted.map("+" + _)
      val removeLines = removeSet.toSeq.sorted.map("-" + _)
      // annotation line ('#key=value'): ignored by the fold (readCommit
      // keeps only +/- lines), read back via commitNote — records WHY a
      // rewrite happened (compact = row-preserving, erasure = rows
      // removed), the distinction the corpus-diff governance flag needs
      val noteLines = note.toSeq.map(n => s"#note=$n")
      val v = prevV + 1
      if (casCreate(commitFile(table, v),
          (noteLines ++ addLines ++ removeLines).mkString("\n"))) {
        if (v % CheckpointEvery == 0)
          casCreate(checkpointFile(table, v),
            filesAt(table, v).toSeq.sorted.mkString("\n"))
        return v
      }
      attempt += 1
      if (attempt > 100) throw new IllegalStateException(
        s"manifest CAS on $table lost $attempt races — livelock?")
      Thread.sleep(attempt.min(10).toLong)
    }
    -1L // unreachable
  }

  /** Atomic create-with-content: write a tmp file, hard-link it to the
    * target (fails if the target exists — the CAS), delete the tmp. No
    * reader can observe a half-written file. Also the claim primitive
    * of [[MaintenanceFence]]. */
  private[store] def casCreate(target: File, content: String): Boolean = {
    val tmp = File.createTempFile(".cas-", ".tmp", target.getParentFile)
    try {
      Files.write(tmp.toPath,
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      try { Files.createLink(target.toPath, tmp.toPath); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally { tmp.delete(): Unit }
  }

  /** Absolute paths of the pinned snapshot, or None when the table has
    * no manifest yet (pre-manifest layout: caller directory-lists). */
  def snapshot(table: String): Option[Seq[String]] =
    latest(table).map { case (_, fs) =>
      fs.toSeq.sorted.map(rel => new File(table, rel).getAbsolutePath)
    }

  /** Physically delete files no retained version references, plus log
    * files the retained window no longer needs. `retainVersions`
    * commit versions stay resolvable (≥1 — the newest never drops), so
    * readers pinned up to that many commits ago still find every file:
    * the retained reference set is fold(N) plus everything a commit in
    * the window removed (those files are exactly the older versions'
    * extra entries). `graceMs` skips files younger than the window: an
    * in-flight staged append moves its part files in BEFORE committing
    * them, and vacuum must not reap that gap. The movers
    * ([[EventStore.stagedAppend]]/`commitRewrite`) stamp each part
    * file's mtime at PUBLISH (the bare move would preserve the
    * staging-write mtime, so a batch whose parquet write outlasted the
    * grace window would be reapable the instant it lands — before its
    * commit), so the window genuinely measures time-since-publish.
    * Returns the number of data files deleted. */
  def vacuum(table: String, retainVersions: Int = 1,
      graceMs: Long = 10 * 60 * 1000L): Int = {
    require(retainVersions >= 1, "must retain at least the newest version")
    val n = latestVersion(table).getOrElse(return 0)
    val oldestRetained = math.max(1L, n - retainVersions + 1)
    val referenced = ((oldestRetained + 1) to n)
      .foldLeft(filesAt(table, n)) { (acc, v) => acc ++ readCommit(table, v)._2 }
    val cutoff = System.currentTimeMillis() - graceMs
    var deleted = 0
    (diskFiles(table) -- referenced).foreach { rel =>
      val f = new File(table, rel)
      if (f.lastModified() < cutoff && f.delete()) {
        deleted += 1
        new File(f.getParentFile, s".${f.getName}.crc").delete(): Unit
      }
    }
    // drop the log tail nothing retained can need: keep the newest
    // checkpoint ≤ oldestRetained (the fold base for the oldest
    // retained version) and everything after it
    val keepFrom = listVersions(table, CheckpointName)
      .filter(_ <= oldestRetained).maxOption.getOrElse(0L)
    listVersions(table, CommitName).filter(_ < keepFrom)
      .foreach(v => commitFile(table, v).delete(): Unit)
    listVersions(table, CheckpointName).filter(_ < keepFrom)
      .foreach(v => checkpointFile(table, v).delete(): Unit)
    // a crashed committer's CAS tmp ages out on the same grace window
    Option(manifestDir(table).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith(".cas-") &&
        f.lastModified() < cutoff)
      .foreach(f => f.delete(): Unit)
    // orphaned staging dirs from crashed appenders age out on the same
    // grace window (a live appender's staging dir is younger than it)
    Option(new File(table).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".staging-") &&
        f.lastModified() < cutoff)
      .foreach(rmrf)
    deleted
  }

  private def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
    f.delete(): Unit
  }
}
