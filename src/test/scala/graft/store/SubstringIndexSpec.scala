package graft.store

import graft.SparkSpec
import graft.analytics.DedupQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The substring index's operating contract: batching cannot change a
  * trim verdict except through the documented occurrence-cap crossing,
  * the algebraic state merges exactly, the persisted path serves the
  * in-memory computation, and probing depends on history only through
  * the |grams|-sized state — never the historical text.
  */
class SubstringIndexSpec extends SparkSpec {

  private def u(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => f"$prefix$i%04d")

  private def frame(docs: Seq[(Long, Seq[String])]): DataFrame = {
    import spark.implicits._
    docs.map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  private def byDoc(df: DataFrame): Map[Long, (Long, Long, String)] =
    df.collect().map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_toks"), r.getAs[Long]("kept_toks"),
          r.getAs[String]("text_deduped")))
    }.toMap

  test("incremental trim over 2 and 3 batches equals one-shot d15 on " +
    "random planted corpora (no cap-crossing grams at the default cap)") {
    val rnd = new scala.util.Random(3141)
    for (iter <- 1 to 5) {
      val templates = Seq.fill(3)(
        Seq.fill(5 + rnd.nextInt(41))(s"t${rnd.nextInt(50)}_${rnd.nextInt(1000)}"))
      val docs = (1L to (6 + rnd.nextInt(4)).toLong).map { id =>
        var toks = Seq.fill(rnd.nextInt(80))(s"w${rnd.nextInt(5000)}")
        (0 until rnd.nextInt(4)).foreach { _ =>
          val t = templates(rnd.nextInt(templates.size))
          val at = if (toks.isEmpty) 0 else rnd.nextInt(toks.size + 1)
          toks = toks.take(at) ++ t ++ toks.drop(at)
        }
        id -> toks
      }
      val reference = byDoc(DedupQueries.d15From(frame(docs)))
      for (nBatches <- Seq(2, 3)) {
        val cut = docs.size / nBatches
        val batches = docs.grouped(math.max(cut, 1)).toSeq
          .map(frame)
        var state: Option[DataFrame] = None
        val got = batches.flatMap { b =>
          val out = byDoc(SubstringIndex.probe(b, state))
          state = Some(state
            .map(s => SubstringIndex.merge(s, SubstringIndex.partial(b)))
            .getOrElse(SubstringIndex.partial(b)))
          out
        }.toMap
        assert(got == reference,
          s"iter $iter, $nBatches batches diverged from one-shot d15")
      }
    }
  }

  test("a batch-2 copy of a batch-1 passage trims even though it is " +
    "unique within its own batch; the batch-1 original stays intact") {
    val span = u("xb", 30)
    val b1 = frame(Seq(1L -> (u("a", 10) ++ span)))
    val b2 = frame(Seq(10L -> (u("c", 15) ++ span ++ u("d", 5))))
    val out1 = byDoc(SubstringIndex.probe(b1, None))
    assert(out1(1L)._2 == 40L, "bootstrap batch must pass through")
    val out2 = byDoc(SubstringIndex.probe(b2,
      Some(SubstringIndex.partial(b1))))
    assert(out2(10L) ==
      ((50L, 20L, (u("c", 15) ++ u("d", 5)).mkString(" "))))
  }

  test("merge(partial(b1), partial(b2)) == partial(union) exactly") {
    val span = u("m", 25)
    val b1 = frame(Seq(
      1L -> (span ++ u("p", 20)), 2L -> (u("q", 12) ++ span)))
    val b2 = frame(Seq(
      3L -> (u("r", 7) ++ span ++ u("s", 9)), 4L -> u("t", 30)))
    val merged = SubstringIndex
      .merge(SubstringIndex.partial(b1), SubstringIndex.partial(b2))
      .orderBy("gh").collect().map(_.toSeq)
    val oneShot = SubstringIndex.partial(b1.unionByName(b2))
      .orderBy("gh").collect().map(_.toSeq)
    assert(merged.length == oneShot.length && merged.sameElements(oneShot))
  }

  test("cap crossing: emitted history is immutable; the probe applies " +
    "the cap to the union count available at probe time") {
    val block = u("cap", 22)
    val b1 = frame(Seq(1L -> (u("e1", 10) ++ block),
      2L -> (u("e2", 10) ++ block)))
    val b2 = frame(Seq(10L -> (u("e3", 10) ++ block),
      11L -> (u("e4", 10) ++ block)))
    // occCap 3: within b1 the block's grams occur 2x (<= cap) -> doc 2
    // trims; by b2's probe the union count is 4 (> cap) -> boilerplate,
    // both b2 docs keep the block. One-shot d15 over the union at the
    // same cap would keep ALL four copies - the documented divergence:
    // doc 2's trim was emitted when the union count was still 2 and
    // history does not reopen.
    val out1 = byDoc(SubstringIndex.probe(b1, None, occCap = 3L))
    assert(out1(1L)._2 == 32L && out1(2L)._2 == 10L)
    val out2 = byDoc(SubstringIndex.probe(b2,
      Some(SubstringIndex.partial(b1)), occCap = 3L))
    assert(out2(10L)._2 == 32L && out2(11L)._2 == 32L)
    val oneShot = byDoc(DedupQueries.d15From(
      frame(Seq(1L -> (u("e1", 10) ++ block), 2L -> (u("e2", 10) ++ block),
        10L -> (u("e3", 10) ++ block), 11L -> (u("e4", 10) ++ block))),
      occCap = 3L))
    assert(Seq(1L, 2L, 10L, 11L).forall(oneShot(_)._2 == 32L))
  }

  test("persisted lifecycle: initialize/refresh/probeStore serve the " +
    "in-memory path; maintainBatch fence makes replays free (sum state " +
    "would otherwise double-count)") {
    val dir = graft.TempDirs.scratch("substring-index").toString
    val span = u("ps", 28)
    val b1 = frame(Seq(1L -> (span ++ u("f", 15))))
    val b2 = frame(Seq(10L -> (u("g", 9) ++ span)))
    val b3 = frame(Seq(20L -> (u("h", 3) ++ span ++ u("i", 4))))
    SubstringIndex.maintainBatch(b1, dir, batchId = 1L)
    SubstringIndex.maintainBatch(b2, dir, batchId = 2L)
    // replay batch 2: fenced out - no new version, counts not doubled
    val vBefore = VersionedState.currentVersion(dir)
    SubstringIndex.maintainBatch(b2, dir, batchId = 2L)
    assert(VersionedState.currentVersion(dir) == vBefore)
    // an idle trigger at the next id moves only the fence: no version
    SubstringIndex.maintainBatch(b2.limit(0), dir, batchId = 3L)
    assert(VersionedState.lastBatchId(dir) == 3L)
    assert(VersionedState.currentVersion(dir) == vBefore)
    val got = byDoc(SubstringIndex.probeStore(spark, b3, dir))
    assert(got(20L) == ((35L, 7L, (u("h", 3) ++ u("i", 4)).mkString(" "))))
    // a doubled count would NOT change this verdict, so pin the state
    // row directly: the span grams must count exactly twice (b1 + b2)
    val n = VersionedState.readCurrent(spark, dir)
      .agg(org.apache.spark.sql.functions.max(col("n_occ")))
      .collect()(0).getLong(0)
    assert(n == 2L, s"replayed batch doubled state counts: max n_occ $n")
    // compaction drops superseded versions; the served state and a
    // fresh probe are unchanged
    val before = VersionedState.readCurrent(spark, dir)
      .collect().map(_.toSeq).toSet
    SubstringIndex.compact(dir, grace = 0)
    assert(VersionedState.readCurrent(spark, dir)
      .collect().map(_.toSeq).toSet == before)
    assert(byDoc(SubstringIndex.probeStore(spark, b3, dir)) == got)
  }

  test("stream-maintained index equals the one-shot state; probes " +
    "against it trim identically to the batch path") {
    val streamDir = graft.TempDirs.scratch("si-in").toString
    val stateDir = graft.TempDirs.scratch("si-state").toString
    val ckpt = graft.TempDirs.scratch("si-ckpt").toString
    val span = u("st", 27)
    val b1 = frame(Seq(1L -> (span ++ u("v", 14)), 2L -> u("w", 40)))
    val b2 = frame(Seq(10L -> (u("x", 6) ++ span)))
    b1.write.mode("append").parquet(streamDir)
    val stream = spark.readStream.schema(b1.schema).parquet(streamDir)
    val q = SubstringIndex.maintain(stream, stateDir)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      b2.write.mode("append").parquet(streamDir)
      q.processAllAvailable()
      val streamed = VersionedState.readCurrent(spark, stateDir)
        .collect().map(_.toSeq).toSet
      val oneShot = SubstringIndex.partial(b1.unionByName(b2))
        .collect().map(_.toSeq).toSet
      assert(streamed == oneShot && oneShot.nonEmpty,
        "streamed state diverged from the one-shot partial")
      // a fresh batch probed against the streamed state trims its copy
      // of the span (union count 3, under the default cap; the doc-1
      // original from the first micro-batch holds the min)
      val b3 = frame(Seq(20L -> (u("y", 8) ++ span ++ u("z", 3))))
      val got = byDoc(SubstringIndex.probeStore(spark, b3, stateDir))
      assert(got(20L) ==
        ((38L, 11L, (u("y", 8) ++ u("z", 3)).mkString(" "))))
    } finally q.stop()
  }

  test("trimStream emits each micro-batch rewritten against prior " +
    "history, equal to the batch probe+refresh path, exactly once " +
    "under replay") {
    val streamDir = graft.TempDirs.scratch("si-ts-in").toString
    val stateDir = graft.TempDirs.scratch("si-ts-state").toString
    val outDir = graft.TempDirs.scratch("si-ts-out").toString
    val ckpt = graft.TempDirs.scratch("si-ts-ckpt").toString
    val span = u("ts", 24)
    val b1 = frame(Seq(1L -> (span ++ u("m", 18))))
    val b2 = frame(Seq(10L -> (u("n", 5) ++ span ++ u("o", 6)),
      11L -> u("p", 15)))
    b1.write.mode("append").parquet(streamDir)
    val stream = spark.readStream.schema(b1.schema).parquet(streamDir)
    val q = SubstringIndex.trimStream(stream, stateDir, outDir)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      b2.write.mode("append").parquet(streamDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = byDoc(spark.read.parquet(outDir))
    // batch reference: bootstrap probe of b1, then b2 against state(b1)
    val expect = byDoc(SubstringIndex.probe(b1, None)) ++
      byDoc(SubstringIndex.probe(b2, Some(SubstringIndex.partial(b1))))
    assert(got == expect, "streamed trim diverged from the batch path")
    assert(got(1L)._2 == 42L && got(10L)._2 == 11L && got(11L)._2 == 15L)
    // a folded batch redelivered (fence already at its id) re-emits
    // nothing and burns no version
    val rows = spark.read.parquet(outDir).count()
    val v = VersionedState.currentVersion(stateDir)
    SubstringIndex.trimBatch(b2, stateDir, outDir, batchId = 1L)
    assert(spark.read.parquet(outDir).count() == rows,
      "replayed batch re-emitted output")
    assert(VersionedState.currentVersion(stateDir) == v)
  }

  test("crash exactly between emit and fold: the replay re-emits " +
    "NOTHING (atomic batch-dir publish) and the state folds once") {
    val stateDir = graft.TempDirs.scratch("si-crash-state").toString
    val outDir = graft.TempDirs.scratch("si-crash-out").toString
    val span = u("cw", 24)
    val b1 = frame(Seq(1L -> (span ++ u("q", 10))))
    val b2 = frame(Seq(10L -> (u("r", 4) ++ span ++ u("s", 5))))
    SubstringIndex.trimBatch(b1, stateDir, outDir, batchId = 0L)
    val v1 = VersionedState.currentVersion(stateDir)

    // the r14 window: emit published, then the JVM dies before the fold
    val boom = intercept[RuntimeException] {
      SubstringIndex.trimBatch(b2, stateDir, outDir, batchId = 1L,
        failpoint = () => throw new RuntimeException("kill between emit+fold"))
    }
    assert(boom.getMessage.contains("emit+fold"))
    assert(VersionedState.currentVersion(stateDir) == v1 &&
      VersionedState.lastBatchId(stateDir) == 0L,
      "state advanced despite the crash")
    val afterCrash = spark.read.parquet(outDir).count()
    assert(afterCrash == 2L, "batch 1's emit should already be published")

    // recovery: the checkpoint re-delivers batch 1
    SubstringIndex.trimBatch(b2, stateDir, outDir, batchId = 1L)
    assert(spark.read.parquet(outDir).count() == afterCrash,
      "replay re-emitted duplicate output rows")
    assert(VersionedState.currentVersion(stateDir) == v1 + 1 &&
      VersionedState.lastBatchId(stateDir) == 1L, "fold did not recover")

    // and the recovered output IS the batch reference computation
    val got = byDoc(spark.read.parquet(outDir))
    val expect = byDoc(SubstringIndex.probe(b1, None)) ++
      byDoc(SubstringIndex.probe(b2, Some(SubstringIndex.partial(b1))))
    assert(got == expect)
    assert(got(10L)._2 == 9L, "span not trimmed from the replayed batch")
  }

  test("trimStream crash-restart through the REAL streaming machinery: " +
    "the query dies between emit and fold, a fresh session replays the " +
    "batch from the checkpoint, output stays exactly-once") {
    val streamDir = graft.TempDirs.scratch("si-rr-in").toString
    val stateDir = graft.TempDirs.scratch("si-rr-state").toString
    val outDir = graft.TempDirs.scratch("si-rr-out").toString
    val ckpt = graft.TempDirs.scratch("si-rr-ckpt").toString
    val span = u("rr", 24)
    val b1 = frame(Seq(1L -> (span ++ u("g", 12))))
    val b2 = frame(Seq(10L -> (u("h", 6) ++ span ++ u("k", 7))))
    // the bomb arms ONCE, for micro-batch 1, exactly in the emit→fold
    // window — the crash class the atomic batch-dir publish exists for
    val bomb = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery(s: org.apache.spark.sql.SparkSession) = {
      import org.apache.spark.sql.DataFrame
      s.readStream.schema(b1.schema).parquet(streamDir)
        .writeStream.outputMode("append")
        .foreachBatch { (delta: DataFrame, id: Long) =>
          SubstringIndex.trimBatch(delta, stateDir, outDir, id,
            failpoint = () =>
              if (id == 1L && bomb.getAndSet(false))
                throw new RuntimeException("die between emit and fold"))
        }
        .option("checkpointLocation", ckpt).start()
    }

    b1.write.mode("append").parquet(streamDir)
    val q1 = startQuery(spark)
    q1.processAllAvailable()
    b2.write.mode("append").parquet(streamDir)
    val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    assert(died.getMessage.contains("die between emit and fold") ||
      Option(died.getCause).exists(_.getMessage.contains("die between")))
    // batch 1's emit is already published; its fold is not
    assert(VersionedState.lastBatchId(stateDir) == 0L)

    // fresh session, same checkpoint: the uncommitted batch replays
    val q2 = startQuery(spark.newSession())
    q2.processAllAvailable()
    q2.stop(); q2.awaitTermination()

    val got = byDoc(spark.read.parquet(outDir))
    val expect = byDoc(SubstringIndex.probe(b1, None)) ++
      byDoc(SubstringIndex.probe(b2, Some(SubstringIndex.partial(b1))))
    assert(got == expect, "recovered stream output diverged from batch path")
    assert(spark.read.parquet(outDir).count() == 2L,
      "replay duplicated the crashed batch's emit")
    assert(VersionedState.lastBatchId(stateDir) == 1L, "fold did not recover")
  }

  test("probing depends on history only through the state frame: the " +
    "bootstrap batch's source file can be deleted before the probe") {
    val dir = graft.TempDirs.scratch("substring-index-odelta").toString
    val span = u("od", 26)
    val b1Path = s"$dir/b1.parquet"
    frame(Seq(1L -> (u("j", 11) ++ span))).write.parquet(b1Path)
    SubstringIndex.initialize(spark.read.parquet(b1Path), s"$dir/state")
    // history text gone: only the gram-hash state survives
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(b1Path), true)
    val b2 = frame(Seq(10L -> (span ++ u("k", 13))))
    val got = byDoc(SubstringIndex.probeStore(spark, b2, s"$dir/state"))
    assert(got(10L) == ((39L, 13L, u("k", 13).mkString(" "))))
  }
}
