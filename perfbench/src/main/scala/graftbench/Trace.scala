package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run. Times are nanoseconds on the JVM's
  * monotonic clock; `startMs` places the span on the wall clock so
  * listener events that only carry wall times can be attributed to it.
  */
final case class Span(id: Int, name: String, parent: Int, op: Long,
                      start: Long, end: Long, startMs: Long, endMs: Long,
                      counts: Map[String, Double]) {
  def seconds: Double = (end - start) / 1e9
}

/** Records spans around the benchmark's calls into the engine, and the
  * Spark-side counters (jobs, stages, tasks, task time, shuffle, spill,
  * output, planning) attributed to them. Spark work is attributed through
  * a thread-local job property carrying the innermost span id, which the
  * SparkListener reads back from each job's and stage's properties
  * (streaming query threads inherit it from the thread that starts them).
  * Planning time, which the QueryExecutionListener reports without
  * properties, is attributed by wall-clock time to the innermost span open
  * on the driving thread.
  *
  * Until [[start]], `span` runs its body and records nothing, and no
  * listener is registered: untraced ops run exactly as without a tracer.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long, Long, mutable.Map[String, Double])]
  private var nextId = 1
  private var curOp = -1L

  // span id -> counter name -> value, fed by listener threads.
  private val sparkCounts = new ConcurrentHashMap[Int, ConcurrentHashMap[String, Double]]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val events = new AtomicLong()
  // Planning phases, attributed to spans after the run (wall-clock ms).
  private val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()

  private def add(span: Int, key: String, v: Double): Unit = if (span > 0)
    sparkCounts.computeIfAbsent(span, _ => new ConcurrentHashMap[String, Double]())
      .merge(key, v, (a, b) => a + b)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanProperty)))
      .flatMap(_.toIntOption).getOrElse(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val s = spanOf(e.properties)
      add(s, "spark.jobs", 1)
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      events.incrementAndGet()
      val s = spanOf(e.properties)
      if (s > 0) stageSpan.put(e.stageInfo.stageId, s)
      add(stageSpan.getOrDefault(e.stageInfo.stageId, 0), "spark.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val s = stageSpan.getOrDefault(e.stageId, 0)
      val m = e.taskMetrics
      add(s, "spark.tasks", 1)
      if (m != null) {
        add(s, "spark.task_run_s", m.executorRunTime / 1e3)
        add(s, "spark.task_cpu_s", m.executorCpuTime / 1e9)
        add(s, "spark.gc_s", m.jvmGCTime / 1e3)
        add(s, "spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(s, "spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(s, "spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(s, "spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add(s, "spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      events.incrementAndGet()
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum
      val at = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      planning.add(at -> planMs)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private var enabled = false

  def start(): Unit = if (!enabled) {
    enabled = true
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def setOp(op: Long): Unit = curOp = op

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProperty)
      open.push((id, name, System.nanoTime(), System.currentTimeMillis(), mutable.Map.empty))
      sc.setLocalProperty(SpanProperty, id.toString)
      try body
      finally {
        val (_, _, s, sMs, counts) = open.pop()
        sc.setLocalProperty(SpanProperty, prevProp)
        spans += Span(id, name, parent, curOp, s, System.nanoTime(), sMs,
          System.currentTimeMillis(), counts.toMap)
      }
    }

  /** Adds to a counter of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) open.headOption.foreach(_._5.updateWith(key)(o => Some(o.getOrElse(0.0) + v)))

  /** Waits until listener delivery has been quiet for a while, so every
    * task of the recorded spans has been counted. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 15000000000L
    var last = -1L
    while (System.nanoTime() < deadline && events.get() != last) {
      last = events.get()
      Thread.sleep(400)
    }
  }

  /** All finished spans with their own counts plus the Spark counters
    * attributed to them. */
  def finished: Seq[Span] = {
    val sorted = spans.sortBy(_.start).toSeq
    // Innermost span covering a wall-clock instant: the latest-starting one.
    def spanAt(ms: Long): Int = sorted.filter(s => s.startMs <= ms && ms <= s.endMs)
      .sortBy(s => -s.start).headOption.map(_.id).getOrElse(0)
    planning.asScala.foreach { case (at, ms) => add(spanAt(at), "spark.planning_ms", ms) }
    planning.clear()
    sorted.map { s =>
      val extra = Option(sparkCounts.get(s.id)).map(_.asScala.toMap).getOrElse(Map.empty)
      s.copy(counts = s.counts ++ extra)
    }
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"

  /** Self time per span: duration minus the time its children cover. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> Stats.selfTime(Stats.Interval(s.start, s.end),
        kids.getOrElse(s.id, Nil).map(c => Stats.Interval(c.start, c.end))) / 1e9
    }.toMap
  }

  def toJson(spans: Seq[Span]): String = {
    val self = selfSeconds(spans)
    val t0 = spans.map(_.start).minOption.getOrElse(0L)
    spans.map { s =>
      val counts = s.counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"op":${s.op},""" +
        s""""start_s":${Json.num((s.start - t0) / 1e9)},"end_s":${Json.num((s.end - t0) / 1e9)},""" +
        s""""self_s":${Json.num(self(s.id))},"counts":{$counts}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** Minimal JSON rendering for the result line and artifacts. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
