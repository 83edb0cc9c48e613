package graft.store

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.DedupQueries

/** Incremental keep-first substring trim over an append-only document
  * store — d15 ([[DedupQueries.d15From]]) made operable at 100 TB the
  * way [[DedupIndex]] makes d1/d2 operable: a NEW batch of documents is
  * trimmed against every passage ingested before it WITHOUT
  * re-tokenizing history.
  *
  * d15's whole corpus-side computation is one aggregate per gram hash:
  * (occurrence count, min (doc_id, pos)) — count is sum-mergeable and
  * min is min-mergeable, so the state folds from per-batch partials in
  * any batch layout, the same algebraic-state property
  * [[MaterializedView]] and [[DedupIndex]] exploit. State size is
  * |distinct gram hashes| × 40 bytes (measured UnsafeRow, pinned by
  * SubstringStateSizeSpec), never |corpus text|; probing a
  * delta costs O(|delta tokens|) plus one hash join against the state.
  *
  * Emission semantics are the honest incremental ones: a batch's
  * trimmed text is final when emitted. First-occurrence verdicts are
  * batch-invariant (doc ids are assigned monotonically by the ingest
  * door, so the global first occurrence of a gram is always in the
  * earliest batch that saw it, and min-merge preserves it exactly).
  * The [[DedupQueries.TrimOccCap]] boilerplate ceiling is the one
  * place incremental and one-shot can diverge: a gram that crosses the
  * cap only after later batches arrive has already had its early
  * non-first occurrences trimmed and emitted — history is immutable —
  * while a one-shot d15 over the union would classify it boilerplate
  * and keep them. Each probe applies the cap to the UNION count
  * (state + batch) available at probe time, so the divergence is
  * bounded to exactly those cap-crossing grams; `SubstringIndexSpec`
  * pins both the parity (no crossing) and the divergence (crossing)
  * cases.
  *
  * Persistence is the shared [[MergeStore]] lifecycle; its replay fence
  * is load-bearing here (a re-merged batch would double the counts).
  */
object SubstringIndex extends MergeStore {

  private def grams(docs: DataFrame): DataFrame =
    DedupQueries.substringGrams(DedupQueries.substringDocs(docs))

  /** A batch's grams hash-partitioned by gram hash — the ONE shuffle
    * every probe-side consumer (batch stats, trim-position join, and
    * in the di2 oracle query the first half's state partial) hangs off:
    * identical exchange subtrees are reused by Spark, so tokenization
    * runs once per batch no matter how many frames derive from it (the
    * di1 r8 lesson — its old probe shape re-shingled the bootstrap
    * half three times). The refresh path ([[partial]]) keeps the
    * map-side-combine shape instead: its grams have ONE consumer, and
    * pre-partitioning would ship raw positions uncombined. */
  private def partitionedGrams(docs: DataFrame): DataFrame =
    DedupQueries.substringGrams(docs).repartition(col("gh"))

  /** State aggregate over an already-partitioned grams frame:
    * aggregates in place, no second exchange. */
  private def stateOfGrams(gs: DataFrame): DataFrame = {
    import gs.sparkSession.implicits._
    gs.groupBy($"gh")
      .agg(min(struct($"doc_id", $"p")).as("first"),
        count(lit(1)).as("n_occ"))
      .select($"gh", $"first.doc_id".as("first_doc"),
        $"first.p".as("first_pos"), $"n_occ")
  }

  /** Partial state of one batch: (gh, first_doc, first_pos, n_occ) —
    * built with map-side combine straight off the gram scan. */
  def partial(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    grams(docs)
      .groupBy($"gh")
      .agg(min(struct($"doc_id", $"p")).as("first"),
        count(lit(1)).as("n_occ"))
      .select($"gh", $"first.doc_id".as("first_doc"),
        $"first.p".as("first_pos"), $"n_occ")
  }

  /** Merge any number of state frames: min the firsts, sum the counts. */
  def merge(states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "merge needs at least one state frame")
    val spark = states.head.sparkSession
    import spark.implicits._
    states.reduce(_.unionByName(_))
      .groupBy($"gh")
      .agg(min(struct($"first_doc".as("doc_id"),
          $"first_pos".as("p"))).as("first"),
        sum($"n_occ").as("n_occ"))
      .select($"gh", $"first.doc_id".as("first_doc"),
        $"first.p".as("first_pos"), $"n_occ")
  }

  /** Trim a delta batch against prior state: the d15 output shape
    * (doc_id, n_toks, kept_toks, text_deduped) for exactly the delta's
    * docs. A delta occurrence is a trim position iff its gram's UNION
    * occurrence count (state + batch) lands in 2..occCap and the
    * occurrence is not the union-wide first (prior state first, or the
    * batch's own min for grams the state has never seen).
    * `state=None` is the bootstrap batch — then this IS d15 on the
    * batch alone. */
  def probe(delta: DataFrame, state: Option[DataFrame],
            occCap: Long = DedupQueries.TrimOccCap): DataFrame = {
    val docs = DedupQueries.substringDocs(delta)
    probeGrams(docs, partitionedGrams(docs), state, occCap)
  }

  /** [[probe]] over a pre-partitioned grams frame (see
    * [[partitionedGrams]]). */
  private def probeGrams(docs: DataFrame, gs: DataFrame,
      state: Option[DataFrame], occCap: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val batchStats = gs
      .groupBy($"gh")
      .agg(min(struct($"doc_id", $"p")).as("batch_first"),
        count(lit(1)).as("batch_n"))
    val withState = state match {
      case Some(s) => batchStats.join(s, Seq("gh"), "left")
      case None => batchStats
        .withColumn("first_doc", lit(null).cast("long"))
        .withColumn("first_pos", lit(null).cast("long"))
        .withColumn("n_occ", lit(null).cast("long"))
    }
    val stats = withState
      .withColumn("state_first",
        when($"first_doc".isNotNull,
          struct($"first_doc".as("doc_id"), $"first_pos".as("p"))))
      .withColumn("first",
        when($"state_first".isNull || $"batch_first" < $"state_first",
          $"batch_first").otherwise($"state_first"))
      .filter(coalesce($"n_occ", lit(0L)) + $"batch_n" > 1 &&
        coalesce($"n_occ", lit(0L)) + $"batch_n" <= occCap)
      .select($"gh", $"first")
    val trimPos = gs
      .join(stats, Seq("gh"))
      .filter(struct($"doc_id", $"p") =!= $"first")
      .select($"doc_id", $"p")
    DedupQueries.rebuildTrimmed(docs, trimPos)
  }

  // ---------------- persisted serving ----------------

  /** Trim a delta against the persisted index (read-only). */
  def probeStore(spark: SparkSession, delta: DataFrame,
      path: String): DataFrame =
    probe(delta, Some(VersionedState.readCurrent(spark, path)))

  /** The full streaming trim: every micro-batch is emitted REWRITTEN
    * against all history (earlier batches AND earlier in this batch —
    * probe-before-fold keeps the keep-first semantics exact), then
    * folded into the state, both behind the one batch fence: a
    * replayed delivery of a FOLDED batch neither re-emits nor
    * double-counts.
    *
    * EXACTLY-ONCE on `outPath` (r15, closing the r14 at-least-once
    * window): the emit publishes as one ATOMIC directory rename into
    * a batch-scoped partition dir (`batch=<id>` — provenance rides
    * along as a partition column; write to a deterministic hidden
    * staging dir, then one rename). A crash between emit and fold
    * replays the batch, the probe recomputes the IDENTICAL output
    * (the state it reads hasn't advanced — that ordering is the
    * point), and the publish sees the target dir already present and
    * skips — no duplicate rows, any crash point. The state itself
    * never double-counts (the fence). This is the streaming twin of
    * running [[probe]]+[[refresh]] per arrival; `SubstringIndexSpec`
    * pins its output equal to that batch path AND kills a batch
    * between emit and fold. */
  def trimStream(stream: DataFrame, path: String, outPath: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (delta: DataFrame, batchId: Long) =>
        trimBatch(delta, path, outPath, batchId)
    }

  /** One micro-batch of [[trimStream]]. `failpoint` is the spec's
    * crash injector for the emit→fold window; production never sets
    * it. */
  def trimBatch(delta: DataFrame, path: String, outPath: String,
      batchId: Long,
      failpoint: () => Unit = () => ()): Unit = {
    if (IncrementalStore.admits(path, batchId) && !delta.isEmpty) {
      val out = new java.io.File(outPath)
      out.mkdirs()
      val target = new java.io.File(out, s"batch=$batchId")
      if (!target.exists()) {
        val state =
          if (VersionedState.exists(path))
            Some(VersionedState.readCurrent(delta.sparkSession, path))
          else None
        // trim against PRIOR state only, materialized before the
        // state advances (the fold below must not shift verdicts).
        // Deterministic staging name: a crashed attempt's leftovers
        // are simply overwritten by the replay.
        val staging = new java.io.File(out, s".staging-batch-$batchId")
        probe(delta, state).write.mode("overwrite")
          .parquet(staging.getAbsolutePath)
        try java.nio.file.Files.move(staging.toPath, target.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          // a concurrent replay published first — its content is
          // byte-equivalent, ours is surplus
          case _: java.nio.file.FileAlreadyExistsException =>
            def rm(f: java.io.File): Unit = {
              if (f.isDirectory) f.listFiles().foreach(rm)
              f.delete(): Unit
            }
            rm(staging)
        }
      }
    }
    failpoint()
    maintainBatch(delta, path, batchId)
  }

  // ---------------- the oracle contract ----------------

  /** DI2: incremental trim over two ingest batches (split at half the
    * id range: bootstrap-probe the first, state-probe the second). The
    * DuckDB twin restates the SPLIT semantics directly — first-half
    * verdicts from first-half stats, second-half verdicts from union
    * stats — so a defect in the state merge, the union count, the
    * null-state bootstrap, or the cross-batch first-occurrence
    * comparison hash-mismatches. (On corpora without cap-crossing
    * grams this equals one-shot d15; the spec pins that equivalence,
    * the oracle pins the incremental semantics themselves.) */
  def di2SubstringIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val mid = docs.agg((max($"doc_id") / lit(2)).cast("long").as("mid"))
    val tagged = docs.crossJoin(broadcast(mid))
    val first = tagged.filter($"doc_id" <= $"mid").drop("mid")
    val second = tagged.filter($"doc_id" > $"mid").drop("mid")
    // ONE partitioned-grams frame for the first half: the bootstrap
    // trim, its batch stats, AND the state handed to the second probe
    // all hang off its single exchange (reused, not recomputed)
    val firstDocs = DedupQueries.substringDocs(first)
    val firstGrams = partitionedGrams(firstDocs)
    probeGrams(firstDocs, firstGrams, None, DedupQueries.TrimOccCap)
      .unionByName(probe(second, Some(stateOfGrams(firstGrams))))
  }

  val di2Sql: String = {
    val K = DedupQueries.SpanGram
    val minSpan = DedupQueries.MinSpanTokens
    val cap = DedupQueries.TrimOccCap
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |stats AS (
       |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_toks FROM toks),
       |mid AS (
       |  SELECT CAST(max(doc_id) / 2 AS BIGINT) AS m FROM documents),
       |pos AS (
       |  SELECT doc_id, t, unnest(range(1, len(t) - $K + 2)) AS p
       |  FROM toks WHERE len(t) >= $K),
       |grams AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS p,
       |    ${DedupQueries.sqlHash60(s"array_to_string(t[p:p+$K-1], ' ')")} AS gh
       |  FROM pos),
       |h1 AS (
       |  SELECT doc_id, p,
       |    row_number() OVER (PARTITION BY gh ORDER BY doc_id, p) AS rn,
       |    count(*) OVER (PARTITION BY gh) AS n
       |  FROM grams, mid WHERE doc_id <= m),
       |h2 AS (
       |  SELECT doc_id, p,
       |    row_number() OVER (PARTITION BY gh ORDER BY doc_id, p) AS rn,
       |    count(*) OVER (PARTITION BY gh) AS n
       |  FROM grams),
       |trimpos AS (
       |  SELECT doc_id, p FROM h1 WHERE rn > 1 AND n BETWEEN 2 AND $cap
       |  UNION ALL
       |  SELECT h2.doc_id, h2.p FROM h2, mid
       |  WHERE h2.doc_id > mid.m AND h2.rn > 1 AND h2.n BETWEEN 2 AND $cap),
       |runs AS (
       |  SELECT doc_id, p,
       |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rid
       |  FROM trimpos),
       |spans AS (
       |  SELECT doc_id, min(p) AS s, max(p) + $K - 1 AS e
       |  FROM runs GROUP BY doc_id, rid
       |  HAVING max(p) + $K - 1 - min(p) + 1 >= $minSpan),
       |tokpos AS (
       |  SELECT doc_id, unnest(t) AS tok,
       |    CAST(unnest(range(1, len(t) + 1)) AS BIGINT) AS i
       |  FROM toks),
       |kept AS (
       |  SELECT tp.doc_id, tp.tok, tp.i
       |  FROM tokpos tp
       |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
       |    WHERE sp.doc_id = tp.doc_id AND tp.i BETWEEN sp.s AND sp.e)),
       |agg AS (
       |  SELECT doc_id, count(*) AS kept_toks,
       |    string_agg(tok, ' ' ORDER BY i) AS text_deduped
       |  FROM kept GROUP BY doc_id)
       |SELECT st.doc_id, st.n_toks,
       |  coalesce(a.kept_toks, 0) AS kept_toks,
       |  coalesce(a.text_deduped, '') AS text_deduped
       |FROM stats st LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "di2_substring_index" -> QueryDef.of(di2Sql)(di2SubstringIndex))
}
