package graft.store

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.TokenizerQueries

/** Incremental corpus vocabulary — word frequencies as a maintained
  * store, the state every tokenizer-side operator reads: bpe1 pair
  * ranking, bpe2 merge learning, and corpus token accounting all run
  * from the |vocab|-sized frame WITHOUT re-scanning history. At 100 TB
  * the corpus-sized word-count shuffle happens once per delta batch
  * (O(delta)), and every later tokenizer question costs |vocab|.
  *
  * Word counts are an ALGEBRAIC state in the [[MaterializedView]]
  * sense: sum is commutative + associative, so per-batch partials
  * merge in any batch layout and the incremental fold is
  * oracle-checkable against the batchless computation (vs1 — the mv1/
  * di1 pattern). Replay safety differs from [[DedupIndex]]'s min-state
  * (where re-merging is idempotent): a re-SUMMED batch would
  * double-count, so the persisted batch fence is load-bearing here,
  * not merely an optimization — the spec pins a replayed batch to a
  * no-op.
  *
  * Persistence is the shared [[MergeStore]] lifecycle.
  */
object VocabStore extends MergeStore {

  /** Partial state of one batch: its word counts. */
  def partial(docs: DataFrame): DataFrame =
    TokenizerQueries.wordFreq(docs)

  /** Sum-merge any number of state frames (|vocab|-sized inputs). */
  def merge(states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "merge needs at least one state frame")
    states.reduce(_.unionByName(_))
      .groupBy(col("word"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  // ---------------- persisted reads ----------------

  /** The maintained `(word, cnt)` frame (read-only). */
  def wordFreq(spark: SparkSession, path: String): DataFrame =
    VersionedState.readCurrent(spark, path)

  /** bpe1 pair ranking served from the store — no corpus scan. */
  def pairCounts(spark: SparkSession, path: String): DataFrame =
    TokenizerQueries.pairCountsFromWordFreq(wordFreq(spark, path))

  /** BPE merges learned from the store — no corpus scan. */
  def train(spark: SparkSession, path: String,
      k: Int): Seq[TokenizerQueries.BpeMerge] =
    TokenizerQueries.bpeTrainOnWordFreq(wordFreq(spark, path), k)

  /** Tokenizer drift between the CURRENT vocabulary version and its
    * predecessor: did the last delta batch destabilize the merge list?
    * Rank-by-rank (rank, current_merged, previous_merged, agree) — the
    * operational read of bpe4's audit, served from the store's own
    * retained versions without any corpus access. Empty when no
    * predecessor survives (fresh store, or compaction dropped it). */
  def drift(spark: SparkSession, path: String,
      k: Int): DataFrame = {
    import graft.analytics.TokenizerQueries
    // resolve the version pair ONCE: re-reading _CURRENT separately
    // would let a concurrent append make this compare N+1 vs N−1
    // while labeling it a one-batch drift
    val cur = VersionedState.currentVersion(path)
    val prevV = cur - 1
    def empty = TokenizerQueries.driftFrame(spark, Nil, Nil,
      "current_merged", "previous_merged", k)
    if (prevV < 1 || !VersionedState.versionExists(path, prevV)) empty
    else
      // the versionExists check races a concurrent append + compact:
      // either version's files can vanish between the check and the
      // training jobs (drift is served WITHOUT the writer's lock — a
      // reader must not block maintenance). A compacted-away version
      // has the same contract as an absent predecessor: empty drift.
      {
        // two independent job chains (bpe4's argument): train both
        // versions concurrently so drift pays max, not sum, of the
        // fixed per-merge job latencies. Await BOTH before acting on
        // either failure — returning early would leave the other
        // chain's jobs running detached with its outcome discarded.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val curF = Future(TokenizerQueries.bpeTrainOnWordFreq(
          VersionedState.readVersion(spark, path, cur), k))
        val prevF = Future(TokenizerQueries.bpeTrainOnWordFreq(
          VersionedState.readVersion(spark, path, prevV), k))
        val curT = scala.util.Try(Await.result(curF, Duration.Inf))
        val prevT = scala.util.Try(Await.result(prevF, Duration.Inf))
        // inspect BOTH failures explicitly: a vanished-version read is
        // the compaction race (→ empty drift), but if the OTHER chain
        // failed for an unrelated reason that real error must surface —
        // a blanket catch around curT.get would let the racing side's
        // missing-files failure mask it
        val failures = Seq(curT, prevT).collect {
          case scala.util.Failure(e) => e
        }
        failures.find(!isMissingFiles(_)).foreach(e => throw e)
        if (failures.nonEmpty) empty
        else TokenizerQueries.driftFrame(spark, curT.get, prevT.get,
          "current_merged", "previous_merged", k)
      }
  }

  /** Whether a failure is a vanished-version read (compaction won the
    * race): AnalysisException PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA
    * at plan time (the directory — or just its files — already gone),
    * or a FileNotFoundException anywhere in the cause chain at job
    * time (files deleted after planning). */
  private def isMissingFiles(e: Throwable): Boolean = {
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).exists {
      case _: java.io.FileNotFoundException => true
      case a: org.apache.spark.sql.AnalysisException =>
        a.getErrorClass == "PATH_NOT_FOUND" ||
          a.getErrorClass == "UNABLE_TO_INFER_SCHEMA"
      case _ => false
    }
  }

  // ---------------- the oracle contract ----------------

  /** VS1: store-served == batchless. Build the vocabulary in two
    * batches split at half the id range, serve the bpe1 pair ranking
    * from the persisted state — must hash-match the batchless bpe1
    * twin: batch boundaries cannot change a count, and the persisted
    * round-trip preserves every bit (the di1/ix1 discipline). */
  def vs1VocabStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    // max over an empty (or all-NULL-id) table is NULL — mirror
    // bpe4From's guard: the twin yields zero rows, so return the empty
    // pair ranking instead of NPE-ing on getLong, and skip the store
    val midRow = docs.agg((max($"doc_id") / lit(2)).cast("long"))
      .collect()(0)
    if (midRow.isNullAt(0))
      return TokenizerQueries.pairCountsFromWordFreq(
        TokenizerQueries.wordFreq(docs.limit(0)))
    val mid = midRow.getLong(0)
    val tmp = java.nio.file.Files.createTempDirectory("graft-vocab-vs1")
    try {
      initialize(docs.filter($"doc_id" <= mid), tmp.toString)
      refresh(spark, docs.filter($"doc_id" > mid), tmp.toString,
        VersionedState.lastBatchId(tmp.toString) + 1)
      // materialize the |vocab|-bounded ranking to the DRIVER so the
      // temp store can be deleted NOW (the former JVM-exit sweep let a
      // long-lived gateway accumulate unbounded temp-dir disk). A
      // driver-local frame — unlike localCheckpoint, whose blocks die
      // with their executor — survives executor loss / dynamic-
      // allocation decommission on a cluster gateway: tasks replay
      // from driver memory, never from the deleted store.
      val ranked = pairCounts(spark, tmp.toString)
      val rows = ranked.collect() // |pair-vocab|-bounded, not data-sized
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.toSeq.asJava, ranked.schema)
    } finally deleteRecursively(tmp)
  }

  private def deleteRecursively(dir: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p): Unit)
      } finally walk.close()
    }
  }

  val vs1Sql: String = TokenizerQueries.bpe1Sql

  val defs: Seq[(String, QueryDef)] = Seq(
    "vs1_vocab_store" -> QueryDef.of(vs1Sql)(vs1VocabStore))
}
