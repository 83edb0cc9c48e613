package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.api.HttpGateway
import graft.core.SchemaRegistry
import graft.enrich._
import graft.ingest.{BatchSources, JsonIngest}
import graft.store.{EventStore, MaterializedView}
import graft.streaming.{CollectionStreamQuery, StreamSubscription, Subscriptions}

/** The traced run's JVM: one session with the [[Tracer]]'s listeners, a
  * gateway on it (project `demo`), and commands on standard input, each
  * answered by one JSON line on standard output:
  *
  *  - `replay <file>`: the staged replay of the collect path, one batch
  *    body per line of `file`, under project `replay`. Each layer's public
  *    function runs in its own span and persists and forces its output,
  *    so a span holds only its own layer's work: `JsonIngest.ingest`,
  *    `MapperPipeline.run` plus the rule-table mappers' dictionary shape
  *    (the gateway's shape above 64 events), `EventStore.write`,
  *    `MaterializedView.initialize`/`refresh`, and a filtered
  *    subscription's poll over `Subscriptions.manifestStream`.
  *  - `read <n>`: `n` spans around `EventStore.read` of `demo/events`,
  *    each resolving the frame's input files.
  *  - `registry <dataDir> <outDir> <seed>`: one traced [[Registry]] probe.
  *  - `listen on|off`: registers or removes the listeners (on at start).
  *  - `dump <file>`: removes the listeners and writes the trace to `file`.
  *
  * Closing standard input stops the gateway and the session.
  *
  * Usage: TraceMain <warehouse> <project> <cores> <localDir>
  */
object TraceMain {
  private val om = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val Array(warehouse, project, cores, localDir) = args
    val spark = Session(cores.toInt, localDir)
    val tracer = new Tracer(spark)
    var listening = true
    tracer.listen(true)
    val registry = SchemaRegistry.persistent(s"$warehouse/_registry")
    val gw = new HttpGateway(spark, registry, warehouse, project)
    println(s"READY ${gw.start()}")
    System.out.flush()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in, UTF_8))
    Iterator.continually(in.readLine()).takeWhile(_ != null).foreach { line =>
      val reply = line.split(" ").toList match {
        case "replay" :: file :: Nil =>
          replay(spark, tracer, registry, warehouse, file)
        case "read" :: n :: Nil =>
          val r = om.createObjectNode()
          (1 to n.toInt).foreach { i =>
            tracer.span("store.read", s"read-$i") {
              val df = EventStore.read(spark, registry, warehouse, project, "events")
              r.put("files", df.inputFiles.length)
            }
          }
          r
        case "registry" :: data :: out :: seed :: Nil =>
          val r = om.createObjectNode()
          Registry.probe(spark, tracer, data, out, seed.toLong, r)
          r
        case "listen" :: on :: Nil =>
          if ((on == "on") != listening) {
            listening = on == "on"
            tracer.listen(listening)
          }
          om.createObjectNode()
        case "dump" :: file :: Nil =>
          if (listening) { listening = false; tracer.listen(false) }
          Files.write(Paths.get(file), om.writeValueAsBytes(tracer.finish()))
          om.createObjectNode()
        case _ => sys.error(s"unknown command: $line")
      }
      println(om.writeValueAsString(reply))
      System.out.flush()
    }
    gw.stop()
    spark.stop()
  }

  private def parquetFiles(dir: File): Seq[File] =
    if (!dir.isDirectory) Nil
    else dir.listFiles().toSeq.flatMap { f =>
      // staging dirs are hidden; the manifest log holds no data files
      if (f.getName.startsWith(".") || f.getName == "_manifests") Nil
      else if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  private def replay(spark: org.apache.spark.sql.SparkSession, tracer: Tracer,
      registry: SchemaRegistry, warehouse: String, file: String) = {
    val project = "replay"
    val table = EventStore.tablePath(warehouse, project, "events")
    val view = new MaterializedView(Seq("event_type"), Seq("value"), Seq("_user"))
    val viewPath = s"$warehouse/$project/__mv_by_type"
    val sink = "perfbench_replay_sub"
    var poll: Option[(() => Long, org.apache.spark.sql.streaming.StreamingQuery)] = None
    val r = om.createObjectNode()
    val perBatch = r.putArray("batches")
    var delivered = 0L
    Files.readAllLines(Paths.get(file), UTF_8).asScala.filter(_.nonEmpty)
      .zipWithIndex.foreach { case (body, i) =>
        val b = perBatch.addObject()
        val before = parquetFiles(new File(table))
        if (i > 0 && poll.isEmpty)
          poll = Some(subscribe(spark, registry, project, table, sink))
        tracer.span("replay.batch", s"replay-$i") {
          val lines = BatchSources.parseEnvelope(body).events
          val res = tracer.span("ingest") {
            val res = JsonIngest.ingest(spark, registry, project,
              spark.sparkContext.parallelize(lines, 1))
            res.byCollection.values.foreach(_.persist(StorageLevel.MEMORY_AND_DISK).count())
            b.put("dead_letters", res.deadLetter.count())
            res
          }
          val typed = res.byCollection("events")
          val enriched: DataFrame = tracer.span("enrich") {
            val chained = MapperPipeline.run(typed, Seq(
              TimestampMapper(System.currentTimeMillis()), UserIdMapper,
              XffIpMapper))
            val df = ReferrerMapper().dictionary(UserAgentMapper.dictionary(chained))
              .persist(StorageLevel.MEMORY_AND_DISK)
            b.put("events", df.count())
            df
          }
          tracer.span("store.write") {
            EventStore.write(enriched, warehouse, project, "events")
          }
          tracer.span("store.mv_refresh") {
            if (i == 0) view.initialize(enriched, viewPath)
            else view.refresh(spark, enriched, viewPath)
          }
          poll.foreach { case (advance, q) =>
            tracer.span("streaming.poll") { advance(); q.processAllAvailable() }
          }
          enriched.unpersist()
          res.byCollection.values.foreach(_.unpersist())
          res.unpersist()
        }
        if (poll.isDefined) {
          val now = spark.table(sink).count()
          b.put("poll_rows", now - delivered)
          delivered = now
        }
        val after = parquetFiles(new File(table))
        val added = after.filterNot(before.contains)
        b.put("files", added.size)
        b.put("bytes", added.map(_.length()).sum)
      }
    poll.foreach(_._2.stop())
    r.put("versions", Option(new File(table, "_manifests").listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("commit-v")))
    r
  }

  /** A filtered subscription on the replayed table, started outside any
    * span: its micro-batch jobs run on the stream's own thread and are
    * attributed to the poll span by time. */
  private def subscribe(spark: org.apache.spark.sql.SparkSession,
      registry: SchemaRegistry, project: String, table: String, sink: String) = {
    val fields = registry.sparkSchema(project, "events").get
    val schema = StructType(fields.fields :+ StructField("_month", StringType))
    val (raw, advance) = Subscriptions.manifestStream(spark, schema, table,
      "perfbench")
    val sub = StreamSubscription("perfbench",
      Seq(CollectionStreamQuery("events", Some("event_type = 'purchase'"))),
      Seq("event_id"))
    val q = Subscriptions.plan(raw.withColumn("_collection", lit("events")), sub)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    (advance, q)
  }
}
