package graftbench

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.QueryDef

/** The registry probe: the operator engine driven through the registry
  * modules' public query definitions, one caller.
  *
  * The probe set is the first query each of the 26 registering modules
  * registers (the definitions `SparkEntry.registry` concatenates), run in
  * a seeded order. Each query executes its own plan to completion via
  * `toRdd`, as `graft.Bench` does, so projections cannot be pruned away.
  * Afterwards, outside the timed region, each probe query that has a
  * DuckDB twin writes its output to `<outDir>/<name>/` for the oracle
  * check.
  */
object Registry {
  val modules: Seq[(String, Seq[(String, QueryDef)])] = {
    import graft.analytics._
    import graft.store._
    Seq(
      "CoreQueries" -> CoreQueries.defs, "JoinQueries" -> JoinQueries.defs,
      "JoinQueries2" -> JoinQueries2.defs, "WindowQueries" -> WindowQueries.defs,
      "ScanQueries" -> ScanQueries.defs, "SourceQueries" -> SourceQueries.defs,
      "BehavioralQueries" -> BehavioralQueries.defs,
      "MapperQueries" -> MapperQueries.defs, "DedupQueries" -> DedupQueries.defs,
      "TextQueries" -> TextQueries.defs,
      "TrainingSetQueries" -> TrainingSetQueries.defs,
      "CorpusQueries" -> CorpusQueries.defs,
      "SimilarityQueries" -> SimilarityQueries.defs,
      "MultimodalQueries" -> MultimodalQueries.defs,
      "PathQueries" -> PathQueries.defs,
      "RetrievalQueries" -> RetrievalQueries.defs,
      "ProjectionQueries" -> ProjectionQueries.defs,
      "TokenizerQueries" -> TokenizerQueries.defs,
      "SequenceQueries" -> SequenceQueries.defs,
      "LayoutQueries" -> LayoutQueries.defs,
      "MaterializedView" -> MaterializedView.defs,
      "DedupIndex" -> DedupIndex.defs, "SubstringIndex" -> SubstringIndex.defs,
      "AnnIndex" -> AnnIndex.defs, "InvertedIndex" -> InvertedIndex.defs,
      "VocabStore" -> VocabStore.defs)
  }

  /** One traced pass of the probe set over the tables in `dataDir`; adds
    * `{name: {module, wall_s, plan_s, oracle?, error?}}` to `out`. */
  def probe(spark: SparkSession, tracer: Tracer, dataDir: String,
      outDir: String, seed: Long, out: ObjectNode): Unit = {
    val probes = modules.map { case (m, defs) => (m, defs.head._1, defs.head._2) }
    val rows = new scala.util.Random(seed).shuffle(probes).map { case (m, n, qd) =>
      val q = out.putObject(n)
      q.put("module", m)
      tracer.span(s"registry.$m", n) {
        val t0 = System.nanoTime()
        try {
          val qe = qd.build(spark, dataDir).queryExecution
          qe.toRdd.count()
          q.put("wall_s", (System.nanoTime() - t0) / 1e9)
          q.put("plan_s", tracer.planMs(qe) / 1e3)
        } catch { case e: Throwable =>
          q.put("error", String.valueOf(e.getMessage).linesIterator
            .nextOption().getOrElse(e.getClass.getName).take(300))
        }
      }
      (n, qd, q)
    }
    rows.foreach { case (n, qd, q) =>
      qd.oracle.filter(_ => !q.has("error")).foreach { sql =>
        q.put("oracle", sql)
        try qd.build(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/$n")
        catch { case e: Throwable =>
          q.put("error", String.valueOf(e.getMessage).take(300))
        }
      }
    }
  }
}
