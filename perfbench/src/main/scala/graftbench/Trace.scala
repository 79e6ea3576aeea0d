package graftbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the benchmark's own records (numbers,
  * strings, booleans, nested maps and sequences).
  */
object J {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.fold("null")(apply)
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

/** One clock for spans and Spark events: epoch milliseconds with
  * sub-millisecond resolution (Spark stamps its events with
  * `System.currentTimeMillis`).
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans around every call the benchmark makes into a layer, and the
  * Spark listener events they cause.
  *
  * A span sets the local property [[Tracer.SpanKey]] for its duration;
  * jobs and stages started on that thread (and on stream threads it
  * starts) carry the property, so each event names the span that
  * caused it. Query-execution planning phases carry no properties and
  * are attributed by time to the innermost span open when the phase
  * began — sound because the benchmark drives one request at a time.
  * Everything stays in memory until [[write]].
  *
  * With tracing off, or outside the timed region ([[active]] unset),
  * [[span]] only runs its body: the untraced run measures latencies by
  * itself and installs no listener.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private var stack: List[Long] = Nil
  private val spans = new ConcurrentLinkedQueue[String]()
  private val events = new ConcurrentLinkedQueue[String]()

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Spans are recorded only inside the timed region. */
  @volatile var active = false

  def span[A](name: String, kind: String = "")(body: => A): A = {
    if (!enabled || !active) return body
    val sc = spark.sparkContext
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    val prevProp = sc.getLocalProperty(SpanKey)
    stack = id :: stack
    sc.setLocalProperty(SpanKey, id.toString)
    val c0 = compiles
    val t0 = Clock.nowMs
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val t1 = Clock.nowMs
      val c1 = compiles
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prevProp)
      spans.add(J(Map("id" -> id, "parent" -> parent, "name" -> name,
        "kind" -> kind, "start" -> t0, "end" -> t1, "ok" -> ok,
        "compiles" -> (c1 - c0))))
    }
  }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)

  // accumulator ids of "number of written files" metrics (re-planned
  // by adaptive execution, too) -> start time of the SQL execution
  // that owns them
  private val fileAccums = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  private def writtenFileMetrics(p: SparkPlanInfo): Seq[Long] =
    p.metrics.filter(_.name == "number of written files").map(_.accumulatorId) ++
      p.children.flatMap(writtenFileMetrics)

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart.put(s.executionId, s.time)
        writtenFileMetrics(s.sparkPlanInfo).foreach(id => fileAccums.put(id, s.time))
      case a: SparkListenerSQLAdaptiveExecutionUpdate =>
        Option(execStart.get(a.executionId)).foreach(t =>
          writtenFileMetrics(a.sparkPlanInfo).foreach(id => fileAccums.put(id, t)))
      case u: SparkListenerDriverAccumUpdates =>
        u.accumUpdates.foreach { case (id, v) =>
          Option(fileAccums.get(id)).foreach(t =>
            events.add(J(Map("ev" -> "files", "time" -> t, "files" -> v))))
        }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      events.add(J(Map("ev" -> "job_start", "job" -> e.jobId, "time" -> e.time,
        "span" -> spanOf(e.properties), "stages" -> e.stageIds)))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      events.add(J(Map("ev" -> "job_end", "job" -> e.jobId, "time" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      events.add(J(Map("ev" -> "stage", "stage" -> e.stageInfo.stageId,
        "attempt" -> e.stageInfo.attemptNumber(),
        "submit" -> e.stageInfo.submissionTime.getOrElse(0L),
        "tasks" -> e.stageInfo.numTasks, "span" -> spanOf(e.properties))))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      val base = Map("ev" -> "task", "stage" -> e.stageId,
        "launch" -> info.launchTime, "finish" -> info.finishTime,
        "ok" -> info.successful)
      events.add(J(if (m == null) base else base ++ Map(
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "deser_ms" -> m.executorDeserializeTime, "gc_ms" -> m.jvmGCTime,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "in_bytes" -> m.inputMetrics.bytesRead,
        "out_bytes" -> m.outputMetrics.bytesWritten)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> Map("start" -> p.startTimeMs, "end" -> p.endTimeMs)
      }
      events.add(J(Map("ev" -> "qe", "ok" -> ok, "phases" -> phases)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, ok = false)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Mean compile time of the generated classes seen so far (the
    * metric is a sampled histogram, so compile time is an estimate
    * from the compile count; the count is exact).
    */
  def compileMeanMs: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean

  /** Writes spans and events; call after the session has stopped, so
    * the listener bus has delivered every event.
    */
  def write(path: String): Unit = if (enabled) {
    val out = new PrintWriter(path)
    try {
      spans.asScala.foreach(s => out.println(s"""{"ev":"span","span_rec":$s}"""))
      events.asScala.foreach(out.println)
      out.println(J(Map("ev" -> "codegen", "compile_mean_ms" -> compileMeanMs)))
    } finally out.close()
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}
