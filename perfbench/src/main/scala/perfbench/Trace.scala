package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial, PartialMerge, Complete}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span in epoch milliseconds. `layer` names the engine layer whose
  * public call the span wraps; `op` is the timed op it belongs to, or -1
  * for set-up and checks. */
final case class Span(id: Int, name: String, layer: String, parent: Int, op: Int,
    start: Double, var end: Double = Double.NaN)

/** In-memory spans around each public call. Every Spark job started
  * inside a span carries the span id as its job group, so job, stage and
  * task events map back to the span that caused them. Spans are kept in
  * memory and written once, at exit. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  @volatile var sc: SparkContext = _
  var currentOp: Int = -1

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, layer, stack.headOption.fold(-1)(_.id), currentOp, nowMs)
      spans += s
      stack.push(s)
      if (sc != null) sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.end = nowMs
        stack.pop()
        if (sc != null) stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
}

/** Per-stage sums of task metrics, in milliseconds unless named. */
final class StageSums {
  var tasks = 0L
  var durationMs = 0.0
  var runMs = 0.0
  var cpuNs = 0.0
  var gcMs = 0.0
  var schedDelayMs = 0.0
  var shuffleWriteNs = 0.0
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var fetchWaitMs = 0.0
  var diskSpilled = 0L
  var peakExecMem = 0L
  var accums: Map[Long, Long] = Map.empty
}

/** What one executed plan node contributes: its kind, and its SQLMetric
  * accumulator ids with the metric values at the end of the query. */
final case class NodeMetrics(kind: String, values: Map[String, Long], ids: Map[String, Long],
    extra: Map[String, Long] = Map.empty)

final case class QueryRecord(startMs: Double, phases: Map[String, Double],
    nodes: Seq[NodeMetrics], failed: Boolean)

/** Collects job/stage/task events and, per SQL execution, the planning
  * phases and a walk of the executed plan's SQLMetrics. */
final class TraceListener extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val jobGroup = mutable.HashMap.empty[Int, String]
  val jobTimes = mutable.HashMap.empty[Int, (Double, Double)]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.HashMap.empty[Int, StageSums]
  val queries = mutable.ArrayBuffer.empty[QueryRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobGroup(e.jobId) = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobTimes(e.jobId) = (e.time.toDouble, Double.NaN)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTimes.get(e.jobId).foreach { case (s, _) => jobTimes(e.jobId) = (s, e.time.toDouble) }
  }

  private def sums(stage: Int) = stages.getOrElseUpdate(stage, new StageSums)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val s = sums(e.stageId)
    val dur = (e.taskInfo.finishTime - e.taskInfo.launchTime).toDouble
    s.tasks += 1
    s.durationMs += dur
    s.runMs += m.executorRunTime
    s.cpuNs += m.executorCpuTime
    s.gcMs += m.jvmGCTime
    // the delay the Spark UI reports: task time not spent running,
    // (de)serializing or shipping the result
    s.schedDelayMs += math.max(0.0, dur - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - e.taskInfo.gettingResultTime.max(0L))
    s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
    s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
    s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    s.diskSpilled += m.diskBytesSpilled
    s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = sums(e.stageInfo.stageId)
    s.accums = e.stageInfo.accumulables.values.flatMap { a =>
      a.value.collect { case v: Long => a.id -> v; case v: java.lang.Long => a.id -> v.longValue }
    }.toMap
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, failed = false)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, failed = true)

  private val JaccardCut = ">= 0.8D"

  private def holdsGraftExpr(p: SparkPlan): Boolean =
    p.expressions.exists(_.exists(_.getClass.getName.startsWith("graft.")))

  private def rowsIn(p: SparkPlan): Long = p match {
    case a: InputAdapter => a.child.metrics.get("numOutputRows").fold(0L)(_.value)
    case l if l.children.isEmpty => l.metrics.get("numOutputRows").fold(0L)(_.value)
    case o => o.children.map(rowsIn).sum
  }

  private def firstRows(p: SparkPlan): Long = p.metrics.get("numOutputRows") match {
    case Some(m) => m.value
    case None => p.children.headOption.fold(0L)(firstRows)
  }

  private def record(qe: QueryExecution, failed: Boolean): Unit = {
    val phases = qe.tracker.phases
    val start = if (phases.isEmpty) Double.NaN
      else phases.values.map(_.startTimeMs).min.toDouble
    val nodes = mutable.ArrayBuffer.empty[NodeMetrics]
    val plan = try qe.executedPlan catch { case _: Throwable => null }
    val all = if (plan == null) Seq.empty[SparkPlan] else collectWithSubqueries(plan) { case p => p }
    all.foreach { p =>
      val kind = p match {
        case a: BaseAggregateExec if a.isInstanceOf[ObjectHashAggregateExec] ||
            a.isInstanceOf[SortAggregateExec] =>
          val modes = a.aggregateExpressions.map(_.mode).toSet
          if (modes.contains(Partial)) "sketch_partial"
          else if (modes.exists(m => m == Final || m == Complete || m == PartialMerge)) "sketch_final"
          else "agg"
        case w: WholeStageCodegenExec =>
          if (w.child.exists(holdsGraftExpr)) "kernel_stage" else "codegen_stage"
        case _: FileSourceScanExec => "scan"
        case s: ShuffleExchangeExec =>
          if (s.child.exists {
            case a: BaseAggregateExec => a.aggregateExpressions.exists(_.mode == Partial) &&
              (a.isInstanceOf[ObjectHashAggregateExec] || a.isInstanceOf[SortAggregateExec])
            case _ => false
          }) "sketch_exchange" else "exchange"
        case _: BroadcastExchangeExec => "broadcast"
        case _: ShuffledHashJoinExec => "hash_join"
        case _: SortExec => "sort"
        // the exact-jaccard verify; Catalyst may push it into the join
        case f: FilterExec if f.condition.sql.contains(JaccardCut) => "pair_filter"
        case j: BaseJoinExec if j.condition.exists(_.sql.contains(JaccardCut)) => "pair_filter"
        case _: DataWritingCommandExec => "write"
        case _ => ""
      }
      if (kind.nonEmpty) {
        val ms = if (kind == "write") p.asInstanceOf[DataWritingCommandExec].cmd.metrics
          else p.metrics
        val extra = kind match {
          case "kernel_stage" => Map("rows_in" -> rowsIn(p.asInstanceOf[WholeStageCodegenExec].child))
          case "pair_filter" => Map("candidates" -> p.children.map(firstRows).max)
          case _ => Map.empty[String, Long]
        }
        nodes += NodeMetrics(kind, ms.map { case (k, v) => k -> v.value },
          ms.map { case (k, v) => k -> v.id }, extra)
      }
    }
    val rec = QueryRecord(start, phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs).toDouble },
      nodes.toSeq, failed)
    synchronized { queries += rec }
  }
}

/** Rolls the trace up into the per-layer metrics. Only events that map
  * to a span inside a timed op count. */
object Rollup {
  val layers: Seq[String] = Seq("planning", "scheduler", "scan", "sketch", "kernels",
    "exchange", "joins", "dedup", "store", "jvm", "driver", "other")

  def apply(t: Tracer, l: TraceListener, gcS: Double, gcCount: Long,
      driverCpuS: Double, extra: Map[String, Double]): Map[String, Double] = l.synchronized {
    val spans = t.spans.toVector
    val inOp = spans.filter(_.op >= 0)
    val byId = spans.map(s => s.id -> s).toMap
    def spanOf(group: String): Option[Span] =
      if (group.startsWith("span-")) byId.get(group.drop(5).toInt) else None
    // innermost span containing a driver-side instant
    def spanAt(ms: Double): Option[Span] =
      inOp.filter(s => s.start <= ms && ms <= s.end).sortBy(s => s.end - s.start).headOption

    val opJobs = l.jobGroup.collect { case (j, g) if spanOf(g).exists(_.op >= 0) => j -> spanOf(g).get }
    val opStages = l.stageJob.collect { case (st, j) if opJobs.contains(j) => st -> opJobs(j) }
    val stageSums = opStages.keys.flatMap(st => l.stages.get(st).map(st -> _)).toMap
    val opQueries = l.queries.filter(q => !q.startMs.isNaN && spanAt(q.startMs).isDefined)
    val qSpan = opQueries.map(q => q -> spanAt(q.startMs).get)

    def sumNodes(kind: String, metric: String): Double =
      opQueries.iterator.flatMap(_.nodes).filter(_.kind == kind).map(_.values.getOrElse(metric, 0L).toDouble).sum
    def sumExtra(kind: String, key: String): Double =
      opQueries.iterator.flatMap(_.nodes).filter(_.kind == kind).map(_.extra.getOrElse(key, 0L).toDouble).sum
    val st = stageSums.values
    val out = mutable.LinkedHashMap.empty[String, Double]

    def phase(name: String) = opQueries.map(_.phases.getOrElse(name, 0.0)).sum / 1e3
    out("planning.analysis_s") = phase("analysis")
    out("planning.optimization_s") = phase("optimization")
    out("planning.physical_s") = phase("planning")
    out("planning.driver_cpu_s") = driverCpuS
    out("planning.sql_executions") = opQueries.size.toDouble

    out("scheduler.jobs") = opJobs.size.toDouble
    out("scheduler.stages") = stageSums.size.toDouble
    out("scheduler.tasks") = st.map(_.tasks).sum.toDouble
    out("scheduler.delay_s") = st.map(_.schedDelayMs).sum / 1e3

    out("scan.rows") = sumNodes("scan", "numOutputRows")
    out("scan.bytes") = sumNodes("scan", "filesSize")
    out("scan.files") = sumNodes("scan", "numFiles")
    out("scan.time_s") = sumNodes("scan", "scanTime") / 1e3

    out("sketch.partial_s") = sumNodes("sketch_partial", "aggTime") / 1e3
    out("sketch.shuffle_bytes") = sumNodes("sketch_exchange", "dataSize")
    out("sketch.final_s") = sumNodes("sketch_final", "aggTime") / 1e3
    out("sketch.partial_rows_out") = sumNodes("sketch_partial", "numOutputRows")
    out("sketch.merge_ratio") = out("sketch.partial_rows_out") / math.max(1.0, out("scan.rows"))
    out("sketch.sort_fallback_tasks") =
      sumNodes("sketch_partial", "numTasksFallBacked") + sumNodes("sketch_final", "numTasksFallBacked")

    out("kernels.stage_s") = sumNodes("kernel_stage", "pipelineTime") / 1e3
    out("kernels.rows_in") = sumExtra("kernel_stage", "rows_in")

    out("exchange.bytes_written") = st.map(_.shuffleBytes).sum.toDouble
    out("exchange.records_written") = st.map(_.shuffleRecords).sum.toDouble
    out("exchange.write_s") = st.map(_.shuffleWriteNs).sum / 1e9
    out("exchange.fetch_wait_s") = st.map(_.fetchWaitMs).sum / 1e3
    out("exchange.partitions") = sumNodes("exchange", "numPartitions") + sumNodes("sketch_exchange", "numPartitions")

    out("join.build_s") = (sumNodes("hash_join", "buildTime") + sumNodes("broadcast", "buildTime")) / 1e3
    out("join.broadcast_bytes") = sumNodes("broadcast", "dataSize")
    out("sort.time_s") = sumNodes("sort", "sortTime") / 1e3
    out("spill.bytes") = st.map(_.diskSpilled).sum.toDouble
    out("memory.peak_exec_mb") = (if (st.isEmpty) 0L else st.map(_.peakExecMem).max) / 1048576.0

    def spanSum(layer: String) = inOp.filter(_.layer == layer).map(s => s.end - s.start).sum / 1e3
    val kept = sumNodes("pair_filter", "numOutputRows")
    val cands = sumExtra("pair_filter", "candidates")
    out("dedup.append_s") = spanSum("dedup")
    out("dedup.candidate_pairs") = cands
    out("dedup.kept_pairs") = kept
    out("dedup.pair_yield") = if (cands > 0) kept / cands else 0.0

    out("store.compact_s") = spanSum("store")
    out("store.files_written") = sumNodes("write", "numFiles")
    out("store.bytes_written") = sumNodes("write", "numOutputBytes")
    out("store.write_amp") = out("store.bytes_written") / math.max(1.0, extra.getOrElse("doc_bytes", 0.0))
    out("store.segments_live") = extra.getOrElse("segments_live", 0.0)

    out("executor.cpu_s") = st.map(_.cpuNs).sum / 1e9
    out("executor.run_s") = st.map(_.runMs).sum / 1e3
    out("executor.cpu_share") = out("executor.cpu_s") / math.max(1e-9, out("executor.run_s"))
    out("jvm.gc_s") = gcS
    out("jvm.gc_count") = gcCount.toDouble

    selfTime(inOp, opJobs.toMap, stageSums, qSpan.toSeq, l).foreach { case (k, v) => out(k) = v }
    out.toMap
  }

  /** Self time per layer, as shares of the timed ops' wall time. A call
    * span's time splits into its planning phases, the wall time of its
    * jobs, and the rest (its own layer). Job time splits over the
    * execution layers in proportion to task time measured in each. */
  private def selfTime(inOp: Vector[Span], opJobs: Map[Int, Span],
      stageSums: Map[Int, StageSums], qSpan: Seq[(QueryRecord, Span)],
      l: TraceListener): Map[String, Double] = {
    val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    // SQLMetric accumulator id -> (node kind, metric name)
    val idKind = qSpan.flatMap(_._1.nodes).flatMap(n => n.ids.map { case (m, id) => id -> (n.kind, m) }).toMap
    val children = inOp.groupBy(_.parent)
    for (s <- inOp) {
      val dur = s.end - s.start
      val kids = children.getOrElse(s.id, Vector.empty).map(k => k.end - k.start).sum
      val planning = qSpan.filter(_._2.id == s.id).map(_._1.phases.values.sum).sum
      val jobs = opJobs.filter(_._2.id == s.id).keys.toSeq
      val jobWall = union(jobs.flatMap(j => l.jobTimes.get(j)).filter(!_._2.isNaN))
      acc("planning") += planning
      acc(if (s.layer == "op") "driver" else s.layer) += math.max(0.0, dur - kids - planning - jobWall)
      val w = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      for (j <- jobs; (stId, sums) <- stageSums if l.stageJob.get(stId).contains(j)) {
        def metric(kind: String, name: String) = sums.accums.collect {
          case (id, v) if idKind.get(id).contains((kind, name)) => v.toDouble
        }.sum
        val scan = metric("scan", "scanTime")
        val sketch = metric("sketch_partial", "aggTime") + metric("sketch_final", "aggTime")
        val kernels = math.max(0.0, metric("kernel_stage", "pipelineTime") - scan - sketch)
        val joins = metric("sort", "sortTime") + metric("hash_join", "buildTime")
        val parts = Map("scheduler" -> sums.schedDelayMs, "jvm" -> sums.gcMs,
          "exchange" -> (sums.shuffleWriteNs / 1e6 + sums.fetchWaitMs), "scan" -> scan,
          "sketch" -> sketch, "kernels" -> kernels, "joins" -> joins)
        parts.foreach { case (k, v) => w(k) += v }
        w("other") += math.max(0.0, sums.durationMs - parts.values.sum)
      }
      val total = w.values.sum
      if (total > 0) w.foreach { case (k, v) => acc(k) += jobWall * v / total }
      else acc("other") += jobWall
    }
    val all = acc.values.sum
    layers.map(k => s"share.$k" -> (if (all > 0) acc(k) / all else 0.0)).toMap
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- iv.sortBy(_._1)) {
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
