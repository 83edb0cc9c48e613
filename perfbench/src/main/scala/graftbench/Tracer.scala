package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run, written out when the run ends.
  *
  * Spans are recorded by the benchmark around its own calls into a
  * layer's public function. A `SparkListener` and a
  * `QueryExecutionListener` on the same session count jobs, stages,
  * tasks, executor run time, shuffle and spill bytes and Catalyst's
  * planning phases. A job belongs to the span that was open on the
  * thread that started it (carried as a job-local property); a job
  * started elsewhere (a gateway handler thread) carries the graft
  * source file of its call site instead, and its wall-clock interval.
  */
final class Tracer(spark: SparkSession) {
  private val SpanProp = "perfbench.span"
  private val ids = new AtomicLong(0L)
  private val om = new ObjectMapper()

  import Tracer.Span
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Span]] { override def initialValue() = Nil }

  private final class Job(val id: Int, val startMs: Long, val span: Long,
      val callSite: String, val stages: Seq[Int]) { var endMs = 0L }
  private final class Stage(val id: Int) {
    var tasks = 0; var runMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spill = 0L; val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val queries = new ConcurrentLinkedQueue[ObjectNode]()

  private def now(): Double = System.nanoTime() / 1e6 - t0Nano + t0Wall
  private val t0Nano = System.nanoTime() / 1e6
  private val t0Wall = System.currentTimeMillis().toDouble

  /** Runs `body` inside a span named `name`; Spark jobs it starts on this
    * thread are attributed to the span. */
  def span[T](name: String, request: String = "")(body: => T): T = {
    val parent = open.get().headOption
    val s = Span(ids.incrementAndGet(), name, parent.map(_.id).getOrElse(0L),
      if (request.nonEmpty) request else parent.map(_.request).getOrElse(""),
      now(), 0.0)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    open.set(s :: open.get())
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endMs = now()
      spans.add(s)
      open.set(open.get().tail)
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val site = props.flatMap(p => Option(p.getProperty("callSite.long")))
        .getOrElse("")
      jobs(e.jobId) = new Job(e.jobId, e.time, span, graftFrame(site),
        e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      val st = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId))
      st.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        st.runMs += m.executorRunTime
        st.taskMs += m.executorRunTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(funcName, qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(funcName, qe, 0L, ok = false)
  }

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
      ok: Boolean): Unit = {
    val n = om.createObjectNode()
    val end = System.currentTimeMillis().toDouble
    n.put("func", funcName)
    n.put("ok", ok)
    n.put("end_ms", end)
    n.put("start_ms", end - durationNs / 1e6)
    n.put("plan_ms", planMs(qe))
    queries.add(n)
  }

  /** Catalyst's analysis + optimization + planning time for `qe`. */
  def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs).sum.toDouble

  /** The first `graft.*` frame of a job's call site, as `Module.scala`;
    * empty when no graft frame started the job. */
  private def graftFrame(site: String): String =
    site.linesIterator.map(_.trim).find(_.startsWith("graft."))
      .flatMap(l => "\\(([A-Za-z0-9]+\\.scala)".r.findFirstMatchIn(l))
      .map(_.group(1)).getOrElse("")

  /** Registers the listeners (`on`) or removes them, so an untraced
    * stretch of the same JVM can be timed against a traced one. */
  def listen(on: Boolean): Unit =
    if (on) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      // the listener bus is asynchronous: let queued events land first
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }

  /** The trace as JSON: spans, jobs with their summed stage counters, and
    * query-execution records. */
  def finish(): ObjectNode = {
    val root = om.createObjectNode()
    val sa = root.putArray("spans")
    spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      val n = sa.addObject()
      n.put("id", s.id); n.put("name", s.name); n.put("parent", s.parent)
      n.put("request", s.request); n.put("start_ms", s.startMs)
      n.put("end_ms", s.endMs)
    }
    val ja = root.putArray("jobs")
    jobs.synchronized {
      jobs.values.foreach { j =>
        val n = ja.addObject()
        val sts = j.stages.flatMap(stages.get)
        n.put("id", j.id); n.put("span", j.span); n.put("site", j.callSite)
        n.put("start_ms", j.startMs); n.put("end_ms", j.endMs)
        n.put("stages", sts.size)
        n.put("tasks", sts.map(_.tasks).sum)
        n.put("run_ms", sts.map(_.runMs).sum)
        n.put("shuffle_write", sts.map(_.shuffleWrite).sum)
        n.put("shuffle_read", sts.map(_.shuffleRead).sum)
        n.put("spill", sts.map(_.spill).sum)
        val skews = sts.filter(_.taskMs.size > 1).map { st =>
          val sorted = st.taskMs.sorted
          val med = math.max(1L, sorted(sorted.size / 2))
          sorted.last.toDouble / med
        }
        n.put("task_skew", if (skews.isEmpty) 1.0 else skews.max)
      }
    }
    val qa = root.putArray("queries")
    queries.asScala.foreach(qa.add)
    root
  }
}

object Tracer {
  final case class Span(id: Long, name: String, parent: Long, request: String,
      startMs: Double, var endMs: Double)
}
