package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer, or an event recorded by a listener.
  * Times are epoch nanoseconds. `parent` is -1 for an op's root span. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Long, end: Long)

/** Spans and counters of a traced run, kept in memory and written out at
  * the end. Spans are recorded from the benchmark's side of each public
  * entry point (the `queries` key builders, `TxnTable` and `GraftSql`
  * calls, the materializing action); Spark's own jobs, stages and
  * planning phases are joined to them through listeners. Every span's id
  * is set as the Spark job group while it is open, so a job belongs to
  * the innermost span that started it.
  *
  * Listeners are attached only when `attached`; spans and counters are
  * recorded only while `on`, which the harness sets per op. With `on`
  * false every method is a direct call: no job group is set and nothing
  * is recorded. */
final class Tracer(spark: SparkSession, val attached: Boolean) {
  var on = false
  private val sc = spark.sparkContext
  private var nextId = 0L
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Counters added by the workloads at the same boundaries (files
    * written, commits, ...), summed over the traced phase. */
  val counters = mutable.LinkedHashMap.empty[String, Double]

  // the epoch offset of System.nanoTime, so listener times (epoch ms)
  // and span times share one clock
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now: Long = System.nanoTime() + offset

  def add(name: String, v: Double): Unit =
    if (on) counters(name) = counters.getOrElse(name, 0.0) + v

  /** Run `body` as the root span of one op. */
  def op[A](kind: String)(body: => A): A = span("op", kind)(body)

  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      nextId += 1
      val parent = stack.headOption
      val s = Span(nextId, parent.fold(-1L)(_.id),
        parent.fold(nextId)(_.op), layer, name, now, 0L)
      stack.push(s)
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        stack.pop()
        spans += s.copy(end = now)
        parent match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, false)
          case None => sc.clearJobGroup()
        }
      }
    }

  // ------------------------------------------------------------ listeners

  final case class StageAgg(var tasks: Long = 0, var failed: Long = 0,
      var runMs: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0,
      var schedMs: Long = 0, var inBytes: Long = 0, var inRows: Long = 0,
      var shWrite: Long = 0, var shRead: Long = 0, var shRecords: Long = 0,
      var fetchWaitMs: Long = 0, var spill: Long = 0,
      var start: Long = 0, var end: Long = 0)
  final case class JobRec(group: Long, start: Long, var end: Long,
      stages: Seq[Int])
  final case class QeRec(phases: Map[String, (Long, Long)], files: Long,
      outRows: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  val qes = mutable.ArrayBuffer.empty[QeRec]

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).flatMap(_.toLongOption)
      jobs(e.jobId) = JobRec(g.getOrElse(-1L), e.time * 1000000L, 0L,
        e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        val a = stages.getOrElseUpdate(i.stageId, StageAgg())
        a.start = i.submissionTime.getOrElse(0L) * 1000000L
        a.end = i.completionTime.getOrElse(0L) * 1000000L
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = stages.getOrElseUpdate(e.stageId, StageAgg())
      a.tasks += 1
      if (e.reason != org.apache.spark.Success) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shRecords += m.shuffleReadMetrics.recordsRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private object qeListener extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> (p.startTimeMs * 1000000L, p.endTimeMs * 1000000L) }
      val plan = qe.executedPlan
      val files = collectWithSubqueries(plan) { case s: FileSourceScanExec =>
        s.metrics.get("numFiles").fold(0L)(_.value) }.sum
      val out = firstRows(plan)
      Tracer.this.synchronized { qes += QeRec(phases, files, out) }
    }
    /** Rows out of the topmost operator that counts them. */
    private def firstRows(p: SparkPlan): Long =
      p.metrics.get("numOutputRows").map(_.value).getOrElse {
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            Seq(q.plan)
          case other => other.children
        }
        kids.headOption.fold(0L)(firstRows)
      }
  }

  if (attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = if (attached) org.apache.spark.graftbench.Bus.drain(sc)

  def close(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  // ------------------------------------------------------------- analysis

  private val PhaseNames = Seq("parsing", "analysis", "optimization", "planning")

  /** Every span, plus the listener events as child spans: planning phases
    * under the innermost span that contains them, jobs under the span
    * whose id was their job group, stages under their job. */
  def tree(): Seq[Span] = synchronized {
    val out = mutable.ArrayBuffer.empty[Span] ++ spans
    var id = -1000000L
    def fresh(): Long = { id -= 1; id }
    val byId = spans.map(s => s.id -> s).toMap
    def innermost(t: Long): Option[Span] =
      spans.filter(s => s.start <= t && t <= s.end)
        .sortBy(s => s.end - s.start).headOption
    for (q <- qes; (ph, (a, b)) <- q.phases if PhaseNames.contains(ph))
      innermost(a).foreach(p =>
        out += Span(fresh(), p.id, p.op, "plans", ph, a, math.max(a, b)))
    for ((jid, j) <- jobs; p <- byId.get(j.group)) {
      val js = Span(fresh(), p.id, p.op, "exec", s"job$jid", j.start,
        math.max(j.start, j.end))
      out += js
      for (sid <- j.stages; st <- stages.get(sid) if st.end > 0)
        out += Span(fresh(), js.id, p.op, "exec", s"stage$sid",
          math.max(st.start, js.start), math.max(st.start, st.end))
    }
    out.toSeq
  }

  /** Self time per layer, ms: each span's duration minus the part of it
    * that its children cover. */
  def selfMs(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
        for ((a, b) <- iv) {
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.end - s.start - covered) / 1e6
      }.sum
    }
  }

  /** Per-layer counters over the traced phase, each divided by `ops`
    * (so runs with different op counts compare) except where noted. */
  def layerMetrics(ops: Int): Map[String, Double] = synchronized {
    val n = math.max(ops, 1).toDouble
    val byId = spans.map(s => s.id -> s).toMap
    val opJobs = jobs.values.filter(j => byId.contains(j.group)).toSeq
    val st = opJobs.flatMap(_.stages).distinct.flatMap(stages.get)
    def sum(f: StageAgg => Long): Double = st.map(f).sum.toDouble
    def spanMs(pred: Span => Boolean): Double =
      spans.filter(pred).map(s => (s.end - s.start) / 1e6).sum
    val opWindows = spans.filter(_.parent == -1L)
    val opQes = qes.filter(q => q.phases.values.exists { case (a, _) =>
      opWindows.exists(s => s.start <= a && a <= s.end) })
    def phase(p: String): Double = opQes.flatMap(_.phases.get(p))
      .map { case (a, b) => (b - a) / 1e6 }.sum
    Map(
      "queries.build_ms" -> spanMs(_.layer == "queries") / n,
      "queries.eager_jobs" -> opJobs.count(j =>
        byId.get(j.group).exists(_.layer == "queries")) / n,
      "plans.parse_ms" -> phase("parsing") / n,
      "plans.analysis_ms" -> phase("analysis") / n,
      "plans.optimization_ms" -> phase("optimization") / n,
      "plans.planning_ms" -> phase("planning") / n,
      "plans.query_executions" -> opQes.size / n,
      "exec.jobs" -> opJobs.size / n,
      "exec.stages" -> st.size / n,
      "exec.tasks" -> sum(_.tasks) / n,
      "exec.run_ms" -> sum(_.runMs) / n,
      "exec.cpu_ms" -> sum(_.cpuNs) / 1e6 / n,
      "exec.gc_ms" -> sum(_.gcMs) / n,
      "exec.sched_delay_ms" -> sum(_.schedMs) / n,
      "exec.failed_tasks" -> sum(_.failed) / n,
      "exec.output_rows" -> opQes.map(_.outRows).sum / n,
      "scan.files" -> opQes.map(_.files).sum / n,
      "scan.bytes" -> sum(_.inBytes) / n,
      "scan.rows" -> sum(_.inRows) / n,
      "shuffle.write_bytes" -> sum(_.shWrite) / n,
      "shuffle.read_bytes" -> sum(_.shRead) / n,
      "shuffle.records" -> sum(_.shRecords) / n,
      "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs) / n,
      "shuffle.spill_bytes" -> sum(_.spill) / n,
      "sql.stmt_ms" -> spanMs(_.layer == "sources.sql") / n)
  }

  /** Scan files of the query executions that started inside `s`. */
  def filesScannedIn(s: Span): Long = synchronized {
    qes.filter(q => q.phases.values.exists { case (a, _) =>
      s.start <= a && a <= s.end }).map(_.files).sum
  }

  def toJson(all: Seq[Span]): String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
      s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
