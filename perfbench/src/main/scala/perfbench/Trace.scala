package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval in epoch milliseconds. `parent` is the id of the
  * span that caused it (0 for an op's root span); spans of one op
  * share `op`. */
final case class Span(op: Long, id: Long, parent: Long, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty)

/** The counts of one op (a sync, a tick or a report call), gathered at
  * the layer boundaries: transport calls, Spark jobs, stages and task
  * metrics, and query planning phases. */
final class OpStats(val id: Long) {
  var startMs = 0.0
  var endMs = 0.0
  var transportCalls = 0L
  var transportMs = 0.0
  var respChars = 0L
  var serveNanos = 0L
  val transportSpans = mutable.Buffer[(Double, Double)]()
  val jobSpans = mutable.Buffer[(Double, Double)]()
  var jobs = 0L
  var buildJobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNanos = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var recordsWritten = 0L
  var outputBytes = 0L
  var planMs = 0.0
  var buildMs = 0.0
  var execMs = 0.0
  var jitMs = 0L
  var processCpuNanos = 0L
  var rowsChanged = 0L
  var ptFresh = 0L
  var ptAll = 0L

  def wallS: Double = (endMs - startMs) / 1000.0

  /** Union length of `spans` clipped to this op's interval. */
  private def covered(spans: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var reach = startMs
    spans.map { case (s, e) => (s max startMs, e min endMs) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - (s max reach); reach = e }
      }
    total
  }

  /** Op time with neither a transport call nor a Spark job active. */
  def driverS: Double =
    ((endMs - startMs) - covered((transportSpans ++ jobSpans).toSeq)) / 1000.0

  /** Time with at least one Spark job active. */
  def jobS: Double = covered(jobSpans.toSeq) / 1000.0
}

/** Clock shared by the benchmark's own spans: epoch milliseconds with
  * sub-millisecond resolution, comparable to Spark's event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Records spans and counts while it is attached: a [[SparkListener]]
  * attributes jobs and tasks to the op named in the job's local
  * properties, a [[QueryExecutionListener]] records planning phases,
  * and [[transport]] wraps the HTTP transport. Everything stays in
  * memory until [[write]]. */
final class Tracer(spark: SparkSession) {
  private val OpKey = "perfbench.op"
  private val PhaseKey = "perfbench.phase"
  private val ops = new ConcurrentHashMap[Long, OpStats]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Double)]()
  val spans: mutable.Buffer[Span] = mutable.Buffer[Span]()
  private var nextId = 0L
  @volatile private var current: OpStats = _

  private def newId(): Long = synchronized { nextId += 1; nextId }
  private def record(s: Span): Unit = synchronized { spans += s }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
        .map(_.toLong).filter(ops.containsKey).foreach { op =>
          val st = ops.get(op)
          st.synchronized {
            st.jobs += 1
            if (e.properties.getProperty(PhaseKey) == "build") st.buildJobs += 1
          }
          e.stageIds.foreach(s => stageOp.put(s, op))
          jobStart.put(e.jobId, (op, e.time.toDouble))
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        val st = ops.get(op)
        st.synchronized { st.jobSpans += ((t0, e.time.toDouble)) }
        record(Span(op, newId(), op, s"spark.job ${e.jobId}", t0,
          e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).map(ops.get(_))
        .filter(_ != null).foreach(st => st.synchronized { st.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).map(ops.get(_)).filter(_ != null)
        .foreach { st =>
          val m = e.taskMetrics
          st.synchronized {
            st.tasks += 1
            if (m != null) {
              st.cpuNanos += m.executorCpuTime
              st.gcMs += m.jvmGCTime
              st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
              st.spillBytes += m.diskBytesSpilled
              st.inputBytes += m.inputMetrics.bytesRead
              st.recordsWritten += m.outputMetrics.recordsWritten
              st.outputBytes += m.outputMetrics.bytesWritten
            }
          }
        }
  }

  private val queryListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  /** Record the analysis, optimization and planning phases of `qe`
    * against the op running now (events are drained before an op
    * ends, so the current op is the one that ran the query). */
  def phases(qe: QueryExecution): Unit = Option(current).foreach { st =>
    qe.tracker.phases.foreach { case (phase, p) =>
      st.synchronized { st.planMs += p.durationMs }
      record(Span(st.id, newId(), st.id, s"query.$phase",
        p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Run `body` as one op: its jobs carry the op id, its events are
    * drained before it closes, and its root span is recorded. */
  def op[T](kind: String, name: String)(body: => T): (OpStats, T) = {
    val st = new OpStats(newId())
    ops.put(st.id, st)
    val sc = spark.sparkContext
    sc.setLocalProperty(OpKey, st.id.toString)
    current = st
    val jit0 = Tracer.jit.getTotalCompilationTime
    val cpu0 = Tracer.os.getProcessCpuTime
    st.startMs = Clock.nowMs
    try {
      val r = body
      st.endMs = Clock.nowMs
      (st, r)
    } finally {
      if (st.endMs == 0.0) st.endMs = Clock.nowMs
      st.jitMs = Tracer.jit.getTotalCompilationTime - jit0
      st.processCpuNanos = Tracer.os.getProcessCpuTime - cpu0
      org.apache.spark.perfbench.ListenerBusDrain.drain(sc)
      current = null
      sc.setLocalProperty(OpKey, null)
      record(Span(st.id, st.id, 0L, s"$kind $name", st.startMs, st.endMs,
        Map("transport.calls" -> st.transportCalls,
          "extract.chars" -> st.respChars, "spark.jobs" -> st.jobs,
          "spark.stages" -> st.stages, "spark.tasks" -> st.tasks,
          "spark.records_written" -> st.recordsWritten,
          "report.plan_ms" -> st.planMs, "driver.s" -> st.driverS)))
    }
  }

  /** Mark the jobs `body` launches as the op's build phase. */
  def phase[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(PhaseKey, name)
    try body finally sc.setLocalProperty(PhaseKey, null)
  }

  /** Wrap a transport: each call is a child span of the running op,
    * with the response size and the fake server's time in it. */
  def transport(post: String => String, serveNanos: () => Long)
      : String => String = { req =>
    val st = current
    val s0 = serveNanos()
    val t0 = Clock.nowMs
    val resp = post(req)
    val t1 = Clock.nowMs
    if (st != null) {
      val served = serveNanos() - s0
      st.synchronized {
        st.transportCalls += 1
        st.transportMs += t1 - t0
        st.respChars += resp.length
        st.serveNanos += served
        st.transportSpans += ((t0, t1))
      }
      record(Span(st.id, newId(), st.id, "transport", t0, t1,
        Map("resp_chars" -> resp.length, "serve_ms" -> served / 1e6)))
    }
    resp
  }

  /** All spans as JSON lines. */
  def write(path: java.nio.file.Path, header: Map[String, Any]): Unit = {
    val sb = new StringBuilder
    sb ++= Json.obj(header) += '\n'
    synchronized(spans.sortBy(_.startMs)).foreach { s =>
      sb ++= Json.obj(Map("op" -> s.op, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++
        s.attrs) += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  /** The JVM's JIT compile time and the process's CPU time: Spark
    * generates classes per query, and compiling them is a large share
    * of a short op. */
  private[perfbench] val jit =
    java.lang.management.ManagementFactory.getCompilationMXBean
  private[perfbench] val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
}

/** Minimal JSON rendering for flat result and trace records. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).bigDecimal.toPlainString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case other => value(other.toString)
  }
  def obj(m: Map[String, Any]): String =
    m.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
  def ordered(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
