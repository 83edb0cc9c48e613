package graft.store

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.{DedupQueries, RetrievalQueries}

/** Persisted inverted index over an append-only document store — the
  * serving path for repeated lexical probes ([[RetrievalQueries]]'s
  * BM25 is the on-the-fly form): corpus probes, contamination triage,
  * and blocklist sweeps hit the same few hundred query terms against
  * an unchanging corpus, and re-exploding 100 TB of text per query is
  * the difference between an interactive answer and a batch job.
  *
  * State is the matched-tf grain [[RetrievalQueries.scoreTf]] consumes
  * directly — `(tok, doc_id, tf, dl)` — laid out hash-sharded by term
  * (`shard = pmod(xxhash64(tok), NumShards)` as a parquet partition
  * column), so a probe's scan prunes to the probed terms' shards: at
  * 1000 executors the probe reads |query terms| shards' postings, not
  * the corpus. Corpus stats (doc count, total tokens — the BM25
  * avgdl inputs) are sum-mergeable, so they ride a per-version sidecar
  * marker folded cumulatively at each append; a probe never scans
  * postings it didn't match.
  *
  * Append-only lifecycle, the shared [[PostingStore]] one (as
  * [[AnnIndex]]'s): each batch writes an immutable `v=N` postings dir
  * plus its cumulative stats marker (the pre-flip sidecar), then flips
  * `_CURRENT`; readers union the live dirs. New documents carry new
  * doc_ids, so postings never need merging — union IS the merge (the
  * same append-only property the event store leans on).
  *
  * The oracle contract (ix1): a two-batch build probed with the canned
  * query must hash-match the batchless [[RetrievalQueries.r1Bm25TopK]]
  * — the di1/ai1 pattern: batch boundaries cannot change a score.
  */
object InvertedIndex extends PostingStore {

  /** Term-hash shards per version dir — the probe's pruning grain. */
  val NumShards = 64

  protected val partitionCol = "shard"

  /** Shard assignment uses the PORTABLE content hash ([[DedupQueries
    * .hash60]], identical in Spark and DuckDB) — the repo's discipline
    * for oracle-checked structure: the persisted layout itself becomes
    * auditable (ix2's per-shard occupancy hash-matches a twin computed
    * from the raw corpus). Hashing cost is once per posting at build,
    * noise next to the explode. */
  private def shardCol = pmod(DedupQueries.hash60(col("tok")), lit(NumShards))
    .cast("int").as("shard")

  private def sqlShard(e: String): String =
    s"${DedupQueries.sqlHash60(e)} % $NumShards"

  /** Postings of one batch at the scoreTf grain, sharded and
    * POSITION-AWARE: (tok, doc_id, tf, dl, positions, shard), where
    * `positions` is the sorted 0-based token offsets of `tok` inside
    * the doc. Positions cost ~one int per corpus token (the classic
    * positional-index overhead) and buy phrase serving
    * ([[phraseProbe]]); tf = size(positions), kept materialized so BM25
    * probes never touch the arrays. A doc lives in exactly one batch
    * (append-only doc grain), so positions never need cross-version
    * merging. */
  def postingsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", size($"toks").cast("long").as("dl"),
        posexplode($"toks").as(Seq("pos", "tok")))
      .groupBy($"doc_id", $"dl", $"tok")
      .agg(sort_array(collect_list($"pos")).as("positions"))
      .select($"tok", $"doc_id",
        size($"positions").cast("long").as("tf"), $"dl", $"positions",
        shardCol)
  }

  /** (n_docs, sum_dl) of one batch — the sum-mergeable stats grain.
    * Null-safe on an empty frame (sum over zero rows is null). */
  private def statsOf(docs: DataFrame): (Long, Long) = {
    import docs.sparkSession.implicits._
    val row = docs
      .select(size(split($"text", " ")).cast("long").as("dl"))
      .agg(count(lit(1)), coalesce(sum($"dl"), lit(0L))).collect()(0)
    (row.getLong(0), row.getLong(1))
  }

  /** On-disk postings format: 2 = positional (positions column).
    * Stamped at initialize; append and the phrase probe refuse a
    * format-1 (pre-positional) index with a clear rebuild message
    * instead of failing on a missing column — or worse, silently
    * serving nulls for old batches after a mixed-format append. */
  private val FormatVersion = "2"

  private def format(path: String): String =
    VersionedState.readMarker(path, "_FORMAT").getOrElse("1")

  private def requirePositional(path: String): Unit =
    require(format(path) == FormatVersion,
      s"index at $path has postings format ${format(path)} (pre-positional); " +
        "re-initialize it from the corpus to enable this operation")

  private def statsMarker(v: Long) = s"_STATS_v=$v"

  private def writeStats(path: String, v: Long, nDocs: Long,
      sumDl: Long): Unit =
    VersionedState.writeMarker(path, statsMarker(v), s"$nDocs:$sumDl")

  private def readStats(path: String, v: Long): (Long, Long) = {
    val Array(n, s) = VersionedState.readMarker(path, statsMarker(v))
      .getOrElse(sys.error(s"missing stats marker for version $v at $path"))
      .split(':')
    (n.toLong, s.toLong)
  }

  /** Stats are cumulative per version, so compaction re-records the
    * current marker for the consolidated version. */
  override protected def carrySidecar(path: String, from: Long,
      to: Long): Unit = {
    val (n, s) = readStats(path, from)
    writeStats(path, to, n, s)
  }

  /** Bootstrap the index from the initial corpus. */
  def initialize(docs: DataFrame, path: String, batchId: Long = -1L): Unit =
    initializeWithStats(docs, path, statsOf(docs), batchId)

  /** [[initialize]] with the batch's (n_docs, sum_dl) precomputed by a
    * caller that already scanned the batch (the two-batch oracle build
    * fuses both batches' stats into one conditional pass — r17). The
    * stats MUST be [[statsOf]] of exactly `docs`. */
  private def initializeWithStats(docs: DataFrame, path: String,
      stats: (Long, Long), batchId: Long = -1L): Unit = {
    VersionedState.writeMarker(path, "_FORMAT", FormatVersion)
    writePostings(postingsOf(docs), path, 1, batchId)(
      writeStats(path, 1, stats._1, stats._2))
  }

  protected def bootstrap(delta: DataFrame, path: String,
      batchId: Long): Unit =
    initialize(delta, path, batchId)

  /** Append a delta batch as version `expected` (cumulative stats fold
    * in from the previous version's marker). Returns false if that
    * version already exists — the at-least-once replay fence.
    *
    * Contract: every doc_id appears in at most ONE batch over the
    * index's lifetime (the event store assigns ids monotonically, so
    * an append-only pipeline satisfies this for free). A violating
    * re-append double-counts the doc in BM25 df/tf; the phrase probe
    * degrades deterministically (offset union). */
  def append(spark: SparkSession, delta: DataFrame, path: String,
      expected: Long, batchId: Long = -1L): Boolean =
    appendWithStats(spark, delta, path, expected, None, batchId)

  /** [[append]] with optionally precomputed delta stats (see
    * [[initializeWithStats]]). */
  private def appendWithStats(spark: SparkSession, delta: DataFrame,
      path: String, expected: Long, stats: Option[(Long, Long)],
      batchId: Long = -1L): Boolean =
    appendAt(path, expected) { cur =>
      requirePositional(path)
      val (pn, ps) = readStats(path, cur)
      val (dn, dsz) = stats.getOrElse(statsOf(delta))
      writePostings(postingsOf(delta), path, expected, batchId)(
        writeStats(path, expected, pn + dn, ps + dsz))
    }

  /** Shard ids of the probed terms, computed with the SAME expression
    * that sharded the postings (a |terms|-row local frame — never a
    * hand-rolled driver-side hash that could drift from Spark's). */
  private def shardsOf(spark: SparkSession, terms: Seq[String]): Seq[Int] = {
    import spark.implicits._
    terms.toDF("tok").select(shardCol).distinct()
      .collect().toIndexedSeq.map(_.getInt(0))
  }

  /** BM25-score `terms` against the index: shard-pruned postings scan →
    * [[RetrievalQueries.scoreTf]] with the marker stats — bit-identical
    * to the batchless scan's scores by shared implementation. */
  def probe(spark: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val (n, s) = readStats(path, VersionedState.currentVersion(path))
    val stats = Seq((n, s)).toDF("n_docs", "sum_dl")
      .select($"n_docs",
        ($"sum_dl".cast("double") / $"n_docs".cast("double")).as("avgdl"))
    val matched = postings(spark, path)
      .filter(col("shard").isin(shardsOf(spark, terms): _*))
      .filter(col("tok").isin(terms: _*))
      .select($"doc_id", $"dl", $"tok", $"tf")
    RetrievalQueries.scoreTf(matched, stats)
  }

  /** Exact-phrase counts served FROM the index — the r3 probe without
    * re-tokenizing the corpus: read only the phrase terms' shards
    * (partition-pruned), group each candidate doc's position arrays,
    * and count the positional chains (a start p of term₀ extends to a
    * full occurrence iff every termⱼ has p+j in its positions). Docs
    * missing any distinct phrase term can't match and are dropped by
    * the group filter before the chain fold runs. Output
    * (doc_id, n_occurrences), occurrences > 0 — the ix3 oracle pins it
    * to the batchless r3 scan. */
  def phraseProbe(spark: SparkSession, path: String,
      phrase: Seq[String]): DataFrame = {
    import spark.implicits._
    require(phrase.nonEmpty, "phrase must have at least one token")
    requirePositional(path)
    val distinctTerms = phrase.distinct
    val matched = postings(spark, path)
      .filter(col("shard").isin(shardsOf(spark, distinctTerms): _*))
      .filter(col("tok").isin(distinctTerms: _*))
      // defensive merge: the store's contract is one batch per doc_id,
      // but a contract-violating re-append must degrade to a
      // deterministic union of offsets, not a duplicate-map-key crash
      .groupBy($"doc_id", $"tok")
      .agg(array_distinct(sort_array(flatten(collect_list($"positions"))))
        .as("positions"))
    val perDoc = matched
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_terms"),
        map_from_entries(collect_list(struct($"tok", $"positions")))
          .as("pos"))
      .filter($"n_terms" === distinctTerms.size)
    // the chain predicate is pure Column algebra — phrase tokens enter
    // the plan as LITERALS, never interpolated into parsed SQL text
    // (tokens like "don't" are legitimate; injection is not)
    def positionsOfTerm(t: String): Column = col("pos").getItem(t)
    val p0 = positionsOfTerm(phrase.head)
    val counter = phrase.zipWithIndex.tail.map { case (t, j) =>
      (p: Column) => array_contains(positionsOfTerm(t), p + lit(j))
    } match {
      case Nil => size(p0)
      case conds =>
        size(filter(p0, p => conds.map(f => f(p)).reduce(_ && _)))
    }
    perDoc
      .select($"doc_id", counter.cast("long").as("n_occurrences"))
      .filter($"n_occurrences" > 0)
  }

  // ---------------- the oracle contract ----------------

  /** IX1: index-served == one-shot. Build in two batches split at half
    * the id range, probe the canned query, serve top-k — must
    * hash-match the batchless r1 BM25 (whose SQL twin the oracle
    * runs): batch boundaries cannot change a score, and the persisted
    * round-trip (including stats-marker folding and shard pruning)
    * preserves every bit. */
  /** The shared two-batch build for the oracle rows (the di1/ai1
    * split-at-mid-id convention): ONE implementation so the batch
    * boundary the ix1/ix3 oracles pin cannot silently diverge. */
  private def twoBatchIndex(spark: SparkSession, docs: DataFrame,
      prefix: String): String = {
    import spark.implicits._
    val tmp = graft.TempDirs.scratchFor(prefix).toString
    val mid = docs.agg((max($"doc_id") / lit(2)).cast("long"))
      .collect()(0).getLong(0)
    // both batches' stats in ONE conditional pass (was one split+sum
    // pass per batch — r17, guide §1.2: fewer full passes); identical
    // to statsOf per batch: count/sum over the b1 rows and their
    // complement, null-safe on an empty side
    val b1 = $"doc_id" <= mid
    val r = docs
      .select(size(split($"text", " ")).cast("long").as("dl"), b1.as("b1"))
      .agg(
        count(when($"b1", lit(1))),
        coalesce(sum(when($"b1", $"dl")), lit(0L)),
        count(when(!$"b1", lit(1))),
        coalesce(sum(when(!$"b1", $"dl")), lit(0L)))
      .collect()(0)
    initializeWithStats(docs.filter(b1), tmp, (r.getLong(0), r.getLong(1)))
    appendWithStats(spark, docs.filter(!b1), tmp, 2L,
      Some((r.getLong(2), r.getLong(3))))
    tmp
  }

  def ix1InvertedProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = twoBatchIndex(spark, Tables(spark, dir, "documents"),
      "graft-ivx-ix1")
    probe(spark, tmp, RetrievalQueries.QueryTerms)
      .orderBy($"score".desc, $"doc_id")
      .limit(RetrievalQueries.TopK)
  }

  val ix1Sql: String = RetrievalQueries.r1Sql

  /** IX2: persisted-layout audit — per-shard postings occupancy read
    * BACK from the store (not recomputed from the corpus): the Spark
    * side builds the index and groups its persisted postings by the
    * shard partition column; the oracle derives the same occupancy
    * from the raw documents with the portable hash. A hash match
    * proves the on-disk layout is exactly the declared sharding — the
    * zo1 discipline applied to the postings store. All-integer
    * output, zero float-parity surface. The operational reading at
    * scale: a hot shard here is the signal to raise [[NumShards]]
    * before probe pruning degrades. */
  def ix2ShardStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val tmp = graft.TempDirs.scratchFor("graft-ivx-ix2").toString
    initialize(docs, tmp)
    postings(spark, tmp)
      .groupBy($"shard")
      .agg(
        count(lit(1)).as("n_postings"),
        countDistinct($"tok").as("n_terms"),
        countDistinct($"doc_id").as("n_docs"))
  }

  /** IX3: index-served phrase counts == the batchless r3 scan. Same
    * two-batch build as ix1; the probe reads only the phrase terms'
    * shards and counts positional chains from the stored offsets —
    * a hash match proves the positional payload survives the
    * persisted round-trip bit-exactly. */
  def ix3PhraseProbe(spark: SparkSession, dir: String): DataFrame = {
    val tmp = twoBatchIndex(spark, Tables(spark, dir, "documents"),
      "graft-ivx-ix3")
    phraseProbe(spark, tmp, RetrievalQueries.PhraseTerms)
  }

  val ix3Sql: String = RetrievalQueries.r3Sql

  val ix2Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |p AS (SELECT DISTINCT doc_id, tok FROM t)
       |SELECT CAST(${sqlShard("tok")} AS INT) AS shard,
       |  count(*) AS n_postings,
       |  count(DISTINCT tok) AS n_terms,
       |  count(DISTINCT doc_id) AS n_docs
       |FROM p GROUP BY 1""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "ix1_inverted_probe" -> QueryDef.of(ix1Sql)(ix1InvertedProbe),
    "ix2_shard_stats" -> QueryDef.of(ix2Sql)(ix2ShardStats),
    "ix3_phrase_probe" -> QueryDef.of(ix3Sql)(ix3PhraseProbe))
}
