package graft.store

import graft.{SparkSpec, Tables}
import graft.analytics.RetrievalQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The inverted index's operating contract: index-served BM25 scores
  * are bit-identical to the batchless scan's regardless of how the
  * corpus was batched in, the persisted lifecycle (stats-marker fold,
  * compaction, replay fence) preserves them, and the probe's postings
  * scan prunes to the probed terms' shards. */
class InvertedIndexSpec extends SparkSpec {

  private def docs: DataFrame = Tables(spark, sf("sf0.001"), "documents")

  private def scoresOf(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def oneShot: Map[Long, Double] =
    scoresOf(RetrievalQueries.bm25Scores(docs))

  test("index-served scores == batchless scan, invariant under batching") {
    val reference = oneShot
    assert(reference.nonEmpty, "canned query must match the fixture corpus")
    Seq(Seq(250L), Seq(100L, 200L, 350L)).foreach { splits =>
      val dir = graft.TempDirs.scratch("ivx").toString
      val bounds = (Long.MinValue +: splits) :+ Long.MaxValue
      val batches = bounds.sliding(2).map { case Seq(lo, hi) =>
        docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
      }.toSeq
      InvertedIndex.initialize(batches.head, dir)
      batches.tail.zipWithIndex.foreach { case (b, i) =>
        assert(InvertedIndex.append(spark, b, dir, i + 2L))
      }
      val served = scoresOf(
        InvertedIndex.probe(spark, dir, RetrievalQueries.QueryTerms))
      assert(served == reference,
        s"split at $splits changed scores (bitwise)")
    }
  }

  test("compaction preserves scores and consolidates to one live dir") {
    val dir = graft.TempDirs.scratch("ivx-compact").toString
    val reference = oneShot
    InvertedIndex.initialize(docs.filter(col("doc_id") <= 200), dir)
    assert(InvertedIndex.append(spark, docs.filter(col("doc_id") > 200), dir, 2L))
    InvertedIndex.compactPostings(spark, dir)
    assert(scoresOf(InvertedIndex.probe(spark, dir,
      RetrievalQueries.QueryTerms)) == reference)
    // superseded dirs are gone; the consolidated version is live
    val live = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName).toSet
    assert(live == Set("v=3"), s"expected one consolidated dir, got $live")
    // further appends continue from the compacted version
    assert(!InvertedIndex.append(spark, docs.limit(1), dir, 3L),
      "replay of a pre-compaction version must be fenced")
  }

  test("deferred-deletion compaction keeps the whole superseded set one cycle") {
    def live(dir: String): Set[String] = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName).toSet
    val dir = graft.TempDirs.scratch("ivx-defer").toString
    val reference = oneShot
    InvertedIndex.initialize(docs.filter(col("doc_id") <= 150), dir)
    assert(InvertedIndex.append(spark,
      docs.filter(col("doc_id") > 150 && col("doc_id") <= 300), dir, 2L))
    // a reader of the pre-compaction set [v=1, v=2] must survive the
    // swap: BOTH superseded dirs stay on disk for one cycle
    InvertedIndex.compactPostings(spark, dir, deferDeletion = true)
    assert(live(dir) == Set("v=1", "v=2", "v=3"), live(dir))
    assert(scoresOf(InvertedIndex.probe(spark, dir,
      RetrievalQueries.QueryTerms)).nonEmpty)
    // the next cycle removes the previous leftovers and defers its own
    assert(InvertedIndex.append(spark, docs.filter(col("doc_id") > 300), dir, 4L))
    InvertedIndex.compactPostings(spark, dir, deferDeletion = true)
    assert(live(dir) == Set("v=3", "v=4", "v=5"), live(dir))
    assert(scoresOf(InvertedIndex.probe(spark, dir,
      RetrievalQueries.QueryTerms)) == reference)
  }

  test("a pre-positional (format-1) index is refused with a rebuild message") {
    val dir = graft.TempDirs.scratch("ivx-fmt").toString
    InvertedIndex.initialize(docs.limit(10), dir)
    // simulate a format-1 store: the marker predates the field
    VersionedState.writeMarker(dir, "_FORMAT", "1")
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.phraseProbe(spark, dir, Seq("spark"))
    }
    assert(e.getMessage.contains("re-initialize"))
    intercept[IllegalArgumentException] {
      InvertedIndex.append(spark, docs.limit(1), dir, 2L)
    }
    // BM25 probes work on either format
    InvertedIndex.probe(spark, dir, Seq("spark")).collect()
  }

  test("streaming maintain: replay fence skips duplicate micro-batches") {
    val dir = graft.TempDirs.scratch("ivx-stream").toString
    val b1 = docs.filter(col("doc_id") <= 200)
    val b2 = docs.filter(col("doc_id") > 200)
    InvertedIndex.maintainBatch(b1, dir, 0L)
    InvertedIndex.maintainBatch(b2, dir, 1L)
    val before = scoresOf(
      InvertedIndex.probe(spark, dir, RetrievalQueries.QueryTerms))
    // at-least-once redelivery of batch 1 must be a no-op
    InvertedIndex.maintainBatch(b2, dir, 1L)
    assert(VersionedState.currentVersion(dir) == 2L)
    assert(scoresOf(InvertedIndex.probe(spark, dir,
      RetrievalQueries.QueryTerms)) == before)
    assert(before == oneShot)
    // an idle trigger at the next id moves only the fence: no version
    InvertedIndex.maintainBatch(docs.filter(lit(false)), dir, 2L)
    assert(VersionedState.lastBatchId(dir) == 2L)
    assert(VersionedState.currentVersion(dir) == 2L)
  }

  test("ix2: persisted shard occupancy sums to the corpus posting count") {
    val rows = InvertedIndex.ix2ShardStats(spark, sf()).collect()
    val totalPostings = rows.map(_.getLong(1)).sum
    val expected = docs
      .selectExpr("doc_id", "explode(split(text, ' ')) AS tok")
      .distinct().count()
    assert(totalPostings == expected,
      "per-shard occupancy must partition the distinct (doc, tok) pairs")
    // every shard id is in range, and terms land in exactly one shard
    assert(rows.forall(r => r.getInt(0) >= 0 &&
      r.getInt(0) < InvertedIndex.NumShards))
    val totalTerms = rows.map(_.getLong(2)).sum
    val vocab = docs
      .selectExpr("explode(split(text, ' ')) AS tok").distinct().count()
    assert(totalTerms == vocab, "a term must belong to exactly one shard")
  }

  test("a real file stream maintains the index; served scores equal the batchless scan") {
    val streamDir = graft.TempDirs.scratch("ivx-in").toString
    val stateDir = graft.TempDirs.scratch("ivx-st").toString
    val ckpt = graft.TempDirs.scratch("ivx-ck").toString
    val b1 = docs.filter(col("doc_id") <= 200)
    val b2 = docs.filter(col("doc_id") > 200)
    b1.write.mode("append").parquet(streamDir)
    val stream = spark.readStream.schema(docs.schema).parquet(streamDir)
    val q = InvertedIndex.maintain(stream, stateDir)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      b2.write.mode("append").parquet(streamDir)
      q.processAllAvailable()
      assert(scoresOf(InvertedIndex.probe(spark, stateDir,
        RetrievalQueries.QueryTerms)) == oneShot,
        "stream-maintained index diverged from the batchless scan")
    } finally q.stop()
  }

  test("phraseProbe serves r3's counts from stored positions") {
    val dir = graft.TempDirs.scratch("ivx-phrase").toString
    InvertedIndex.initialize(docs.filter(col("doc_id") <= 200), dir)
    assert(InvertedIndex.append(spark, docs.filter(col("doc_id") > 200), dir, 2L))
    Seq(Seq("table", "hash"), Seq("customer"), Seq("spark", "hash", "join"))
      .foreach { phrase =>
        val served = InvertedIndex.phraseProbe(spark, dir, phrase)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val scan = RetrievalQueries.r3From(docs, phrase)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(served == scan, s"phrase $phrase diverged")
      }
  }

  test("probe plan prunes postings partitions to the probed shards") {
    val dir = graft.TempDirs.scratch("ivx-prune").toString
    InvertedIndex.initialize(docs, dir)
    val plan = InvertedIndex.probe(spark, dir, Seq("spark"))
      .queryExecution.executedPlan.toString
    // the shard filter must reach the scan as a partition filter,
    // not a post-scan predicate
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*shard[^\\]]*\\].*"),
      s"shard filter did not prune partitions:\n$plan")
  }
}
