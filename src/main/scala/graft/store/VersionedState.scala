package graft.store

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned parquet state with an atomically-flipped `_CURRENT`
  * pointer — the persistence layout of all six incremental stores,
  * written through the one lifecycle in [[IncrementalStore]] (the only
  * caller of [[writePointer]]). Parquet cannot be read and overwritten
  * in place, so each refresh writes the NEXT `v=N` directory and
  * renames `_CURRENT.tmp` over `_CURRENT`: a concurrent reader resolves
  * the old or the new version, never a torn one.
  *
  * All IO goes through the Hadoop FileSystem/FileContext API resolved
  * from the path's scheme, so the same layout works on local disk,
  * HDFS, and object stores with a Hadoop connector. The pointer is a
  * marker like any other: tmp + `FileContext.rename(OVERWRITE)` —
  * atomic on POSIX filesystems and HDFS. Object stores without atomic
  * rename (e.g. S3A) get non-atomic last-writer-wins pointer
  * replacement: still safe for the single-writer maintenance model (one
  * refresh job per store), which is the documented deployment
  * contract; concurrent UNCOORDINATED writers would need a lock service
  * on such stores.
  *
  * The pointer records `version:lastBatchId`. The batch id is the
  * streaming high-water mark the replay fence
  * ([[IncrementalStore.admits]]) checks; batch-API writes record -1 (no
  * stream). A bare `v` with no `:batch` suffix parses as `(v, -1)` so
  * pre-existing state directories keep working.
  */
private[graft] object VersionedState {

  def versionDir(path: String, v: Long): String = s"$path/v=$v"

  private def hadoopConf: Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsOf(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  private val Pointer = "_CURRENT"

  def exists(path: String): Boolean = {
    val p = new Path(path, Pointer)
    fsOf(p).exists(p)
  }

  /** `_CURRENT` content `v[:lastBatchId]` → (version, lastBatchId). */
  private def readPointer(path: String): (Long, Long) = {
    val s = readMarker(path, Pointer)
      .getOrElse(throw new FileNotFoundException(s"$path/$Pointer"))
    s.split(':') match {
      case Array(v, b) => (v.toLong, b.toLong)
      case _           => (s.toLong, -1L)
    }
  }

  def currentVersion(path: String): Long = readPointer(path)._1

  /** High-water micro-batch id recorded at the last pointer flip; -1 if
    * the store has only ever been written through the batch API. */
  def lastBatchId(path: String): Long = readPointer(path)._2

  def readCurrent(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(versionDir(path, currentVersion(path)))

  /** Whether version `v`'s directory is still on disk (compaction
    * removes superseded versions past its grace). */
  def versionExists(path: String, v: Long): Boolean = {
    val p = new Path(versionDir(path, v))
    fsOf(p).exists(p)
  }

  /** Read a specific (possibly superseded) version — callers must
    * check [[versionExists]] first. */
  def readVersion(spark: SparkSession, path: String, v: Long): DataFrame =
    spark.read.parquet(versionDir(path, v))

  /** Flip `_CURRENT` to `v` (recording the streaming high-water
    * `batchId`). The version directory must be complete before
    * calling. */
  private[store] def writePointer(path: String, v: Long,
      batchId: Long): Unit =
    writeMarker(path, Pointer, s"$v:$batchId")

  /** Read a small sidecar marker file (e.g. a compaction base), None if
    * absent. */
  def readMarker(path: String, name: String): Option[String] = {
    val p = new Path(path, name)
    try {
      val in = fsOf(p).open(p)
      try Some(new String(in.readAllBytes(), UTF_8).trim)
      finally in.close()
    } catch { case _: FileNotFoundException => None }
  }

  /** Write a sidecar marker atomically (tmp + rename-overwrite, the
    * pointer-flip discipline). */
  def writeMarker(path: String, name: String, value: String): Unit = {
    val tmp = new Path(path, s"$name.tmp")
    val dst = new Path(path, name)
    val fs = fsOf(dst)
    val out = fs.create(tmp, true)
    try out.write(value.getBytes(UTF_8))
    finally out.close()
    val fc = FileContext.getFileContext(fs.getUri, hadoopConf)
    fc.rename(tmp, dst, Options.Rename.OVERWRITE)
  }

  /** Remove superseded versions; `grace` keeps that many below current
    * so a reader that resolved the pointer just before a flip still
    * finds its files. */
  def compact(path: String, grace: Int = 1): Unit =
    deleteVersionsBelow(path, currentVersion(path) - grace)

  /** Delete every `v=N` directory with N below `v`. */
  private[store] def deleteVersionsBelow(path: String, v: Long): Unit = {
    val dir = new Path(path)
    val fs = fsOf(dir)
    fs.listStatus(dir).toIndexedSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .filter(st => st.getPath.getName.drop(2).toLong < v)
      .foreach(st => fs.delete(st.getPath, true))
  }
}
