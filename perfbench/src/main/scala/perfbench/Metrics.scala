package perfbench

import scala.collection.mutable
import PerfBench.{median, tail}

/** Samples of one measured phase of a run (untraced, or traced). */
final class Samples {
  /** Headline op seconds: full syncs or change ticks. */
  val main = mutable.Buffer[Double]()
  /** Report calls. */
  val reports = mutable.Buffer[Double]()
  /** No-change ticks (watermark polls). */
  val idle = mutable.Buffer[Double]()
  /** Passes over all 17 reports. */
  val passes = mutable.Buffer[Double]()
  val stats = mutable.Buffer[OpStats]()
  val reportStats = mutable.Buffer[OpStats]()
  val idleStats = mutable.Buffer[OpStats]()
  val byReport = mutable.LinkedHashMap[String, mutable.Buffer[Double]]()

  /** The workload's headline op: syncs or ticks, else report calls. */
  def headline: Seq[Double] = (if (main.nonEmpty) main else reports).toSeq
  def headlineStats: Seq[OpStats] =
    (if (stats.nonEmpty) stats else reportStats).toSeq
}

/** End-to-end metrics of an untraced phase. The gated metrics are
  * common to every workload (`op_p50_s` is the workload's headline
  * op); the workload-named figures are printed alongside. */
final class Report(workload: String, s: Samples, setupS: Double,
    heapMb: Double, attempted: Long, failed: Long) {
  private val (tailS, tailPct, n) = tail(s.headline)

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("op_p50_s", median(s.headline), "s"),
    ("heap_mb", heapMb, "MB"))

  private def named: Seq[(String, Double, String)] = workload match {
    case "full_sync" => Seq(
      ("full_sync_s", median(s.main.toSeq), "s"),
      ("full_sync_heap_mb", heapMb, "MB"))
    case "incremental_sync" => Seq(
      ("sync_cycle_p50_s", median(s.main.toSeq), "s"),
      ("idle_poll_p50_s", median(s.idle.toSeq), "s"))
    case _ => Seq(
      ("report_p50_s", median(s.reports.toSeq), "s"),
      ("report_tail_s", tailS, "s"),
      ("report_pass_s", median(s.passes.toSeq), "s"))
  }

  def printEndToEnd(): Unit = {
    (endToEnd ++ named ++ Seq(("op_tail_s", tailS, "s"), ("failed_ops_ratio",
      failed.toDouble / attempted.max(1L), "ratio"))).foreach {
      case (k, v, u) => println(f"[perfbench] metric $k%-20s $v%.4f $u")
    }
    println(f"[perfbench] samples headline=$n tail=p$tailPct%.1f " +
      s"idle=${s.idle.size} passes=${s.passes.size} " +
      s"attempted=$attempted failed=$failed")
  }
}

/** Per-layer metrics of a traced run: medians per headline op of the
  * counts and times gathered at each layer boundary. Metrics of a
  * layer the workload does not reach read 0. `untracedP50` is the
  * headline median of the last untraced run of the same workload
  * and seed in this checkout, when there is one. */
final class Layers(workload: String, traced: Samples,
    reportNames: Seq[String], untracedP50: Option[Double]) {
  private val st = traced.headlineStats
  private val rs = traced.reportStats.toSeq
  private def med(f: OpStats => Double): Double =
    if (st.isEmpty) 0.0 else median(st.map(f))
  private def rmed(f: OpStats => Double): Double =
    if (rs.isEmpty) 0.0 else median(rs.map(f))
  private def ratio(num: Double, den: Double) = if (den > 0) num / den else 0.0
  private val MB = 1e6
  private val incremental = workload == "incremental_sync"

  val metrics: Seq[(String, Double, String)] = Seq(
    ("transport.calls", med(_.transportCalls.toDouble), "count"),
    ("transport.s", med(_.transportMs / 1000), "s"),
    // UTF-16LE on the wire: two bytes per character
    ("transport.resp_mb", med(_.respChars * 2 / MB), "MB"),
    ("tally.serve_s", med(_.serveNanos / 1e9), "s"),
    ("driver.s", med(_.driverS), "s"),
    ("extract.chars", med(_.respChars.toDouble), "count"),
    ("spark.jobs", med(_.jobs.toDouble), "count"),
    ("spark.stages", med(_.stages.toDouble), "count"),
    ("spark.tasks", med(_.tasks.toDouble), "count"),
    ("spark.job_s", med(_.jobS), "s"),
    ("spark.task_cpu_s", med(_.cpuNanos / 1e9), "s"),
    ("spark.gc_s", med(_.gcMs / 1000.0), "s"),
    ("spark.shuffle_mb", med(_.shuffleBytes / MB), "MB"),
    ("spark.spill_mb", med(_.spillBytes / MB), "MB"),
    ("spark.input_mb", med(_.inputBytes / MB), "MB"),
    ("spark.records_written", med(_.recordsWritten.toDouble), "count"),
    ("spark.output_mb", med(_.outputBytes / MB), "MB"),
    ("jvm.jit_s", med(_.jitMs / 1000.0), "s"),
    ("jvm.cpu_s", med(_.processCpuNanos / 1e9), "s"),
    ("merge.rows_changed",
      if (incremental) med(_.rowsChanged.toDouble) else 0.0, "count"),
    ("merge.write_amplification",
      if (incremental) ratio(st.map(_.recordsWritten).sum.toDouble,
        st.map(_.rowsChanged).sum.toDouble) else 0.0, "ratio"),
    ("merge.partitions_rewritten_ratio",
      if (incremental) ratio(st.map(_.ptFresh).sum.toDouble,
        st.map(_.ptAll).sum.toDouble) else 0.0, "ratio"),
    ("merge.jobs_per_tick",
      if (incremental) ratio(st.map(_.jobs).sum.toDouble, st.size) else 0.0,
      "count"),
    ("poll.jobs", if (traced.idleStats.isEmpty) 0.0
      else median(traced.idleStats.toSeq.map(_.jobs.toDouble)), "count"),
    ("poll.s", if (traced.idle.isEmpty) 0.0 else median(traced.idle.toSeq),
      "s"),
    ("report.build_s", rmed(_.buildMs / 1000), "s"),
    ("report.build_jobs", rmed(_.buildJobs.toDouble), "count"),
    ("report.plan_s", rmed(_.planMs / 1000), "s"),
    ("report.exec_s", rmed(_.execMs / 1000), "s"),
    ("report.pass_s", if (traced.passes.isEmpty) 0.0
      else median(traced.passes.toSeq), "s")) ++
    reportNames.map(r => (s"report.${r}_s",
      traced.byReport.get(r).fold(0.0)(xs => median(xs.toSeq)), "s")) :+
    // compare with an untraced run's op_p50_s for the tracing overhead
    (("trace.op_p50_s", median(traced.headline), "s"))

  def print(): Unit = {
    metrics.foreach { case (k, v, u) =>
      println(f"[perfbench] layer $k%-36s $v%.4f $u")
    }
    val p50 = median(traced.headline)
    println(untracedP50.fold(
      "[perfbench] tracing overhead: no untraced run of this workload " +
        "and seed to compare with")(u =>
      f"[perfbench] tracing overhead ${p50 - u}%.4f s per headline op " +
        f"(traced $p50%.4f s, untraced $u%.4f s)"))
  }
}
