package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of a traced run: spans (name, start, end, parent,
  * query) at every layer boundary plus per-pass counters, written out
  * once when the run ends.
  *
  * Harness records the client-side spans (setup, pass, query, build,
  * save). The listeners add the Spark-side ones, parented by time
  * containment when the trace is read: Catalyst phases of every
  * QueryExecution, jobs, stages and streaming micro-batches. */
final class Tracer(cores: Int) {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private val ids = new AtomicInteger(0)
  private val passIds = mutable.Map[Int, Int]()
  private val passes = mutable.Map[Int, PassState]()
  private val qes = mutable.ArrayBuffer[ObjectNode]()
  private val om = new ObjectMapper()

  def passSpan(n: Int): Int = synchronized(passIds.getOrElseUpdate(n, ids.getAndIncrement()))

  def span(name: String, parent: Int, query: String, start: Double, end: Double,
           pass: Int, id: Option[Int] = None): Int = synchronized {
    val sid = id.getOrElse(ids.getAndIncrement())
    spans += Span(sid, name, parent, query, start, end, pass)
    sid
  }

  private def state(n: Int): PassState = synchronized(passes.getOrElseUpdate(n, new PassState))

  /** The SparkListener for pass `n`: task, job, stage, block and
    * streaming-progress events, all into that pass's counters. */
  def listener(n: Int): SparkListener = {
    val st = state(n)
    st.codegenNs0 = CodeGenerator.compileTime
    new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) st.synchronized {
          st.add("exec.tasks", 1)
          st.add("exec.cpu_ms", m.executorCpuTime / 1e6)
          st.add("exec.run_ms", m.executorRunTime.toDouble)
          st.add("exec.gc_ms", m.jvmGCTime.toDouble)
          st.add("exec.task_overhead_ms",
            math.max(0L, e.taskInfo.finishTime - e.taskInfo.launchTime - m.executorRunTime).toDouble)
          st.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          st.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          st.add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          st.add("spill.bytes", m.diskBytesSpilled.toDouble)
          st.add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
          st.add("scan.records", m.inputMetrics.recordsRead.toDouble)
          st.add("sink.bytes", m.outputMetrics.bytesWritten.toDouble)
          st.add("sink.records", m.outputMetrics.recordsWritten.toDouble)
          st.tasks += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
        }
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        st.synchronized { st.add("exec.jobs", 1); st.jobStart(e.jobId) = e.time.toDouble }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val start = st.synchronized(st.jobStart.remove(e.jobId))
        start.foreach { s =>
          st.synchronized(st.jobs += ((s, e.time.toDouble)))
          span("dispatch.job", -1, "", s, e.time.toDouble, n)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        st.synchronized(st.add("exec.stages", 1))
        for (s <- si.submissionTime; f <- si.completionTime)
          span("operators.stage", -1, "", s.toDouble, f.toDouble, n)
      }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD) st.synchronized {
          val size = if (b.storageLevel.isValid) (b.memSize + b.diskSize).toDouble else 0.0
          st.blockBytes += size - st.blocks.getOrElse(b.blockId.name, 0.0)
          st.blocks(b.blockId.name) = size
          st.blockPeak = math.max(st.blockPeak, st.blockBytes)
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent => batch(n, st, p)
        case _ => ()
      }
    }
  }

  private def batch(n: Int, st: PassState, e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
    val b = om.createObjectNode()
    b.put("name", String.valueOf(p.name))
    b.put("batch_ms", p.batchDuration.toDouble)
    b.put("input_rows", p.numInputRows.toDouble)
    val dn = b.putObject("duration_ms")
    d.toSeq.sortBy(_._1).foreach { case (k, v) => dn.put(k, v) }
    val ops = p.stateOperators.toSeq
    st.synchronized {
      st.batches += b
      st.add("stream.batches", 1)
      st.add("stream.input_rows", p.numInputRows.toDouble)
      Seq("addBatch" -> "stream.add_batch_ms", "queryPlanning" -> "stream.query_planning_ms",
          "walCommit" -> "stream.wal_commit_ms", "commitOffsets" -> "stream.commit_offsets_ms",
          "latestOffset" -> "stream.latest_offset_ms", "getBatch" -> "stream.get_batch_ms")
        .foreach { case (k, name) => st.add(name, d.getOrElse(k, 0.0)) }
      st.add("state.rows", ops.map(_.numRowsTotal).sum.toDouble)
      st.add("state.memory_bytes", ops.map(_.memoryUsedBytes).sum.toDouble)
      st.add("state.commit_ms", ops.map(_.commitTimeMs).sum.toDouble)
    }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    span("streaming.batch", -1, String.valueOf(p.name), start, start + p.batchDuration, n)
  }

  /** The QueryExecutionListener for sessions of pass `n`: planning
    * phases of every QueryExecution, and executed-plan SQL metrics. */
  def qeListener(n: Int): QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(n, funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(n, funcName, qe, ok = false)
  }

  private def record(n: Int, funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val st = state(n)
    val phases = qe.tracker.phases
    phases.foreach { case (phase, ps) =>
      st.synchronized(st.add(s"plan.${phase}_ms", ps.durationMs.toDouble))
      span(s"catalyst.$phase", -1, "", ps.startTimeMs.toDouble, ps.endTimeMs.toDouble, n)
    }
    val ops = if (ok) scala.util.Try(PlanWalk.operators(qe.executedPlan)).getOrElse(Nil) else Nil
    st.synchronized {
      ops.foreach { o =>
        st.add("op.sort_ms", o.metric("sortTime"))
        st.add("op.agg_ms", o.metric("aggTime"))
        if (o.node.startsWith("BroadcastExchange"))
          st.add("op.broadcast_ms", o.metric("collectTime") + o.metric("buildTime") +
            o.metric("broadcastTime"))
      }
    }
    val q = om.createObjectNode()
    q.put("pass", n)
    q.put("func", funcName)
    q.put("ok", ok)
    q.put("start_ms", if (phases.isEmpty) 0.0 else phases.values.map(_.startTimeMs).min.toDouble)
    val top = q.putArray("top_operators")
    ops.groupBy(_.node).map { case (k, v) => k -> v.map(_.timeMs).sum }
      .toSeq.filter(_._2 > 0).sortBy(-_._2).take(5)
      .foreach { case (k, v) => top.addArray().add(k).add(v) }
    synchronized(qes += q)
  }

  def batchesOf(n: Int): Seq[ObjectNode] = state(n).synchronized(state(n).batches.toList)

  /** Pass `n`'s counters, including the ones derived from its spans:
    * build time and build-phase jobs, time with no task running, busy
    * fraction, codegen compile time and peak cached-block bytes. */
  def passCounters(n: Int, p0: Double, p1: Double): Map[String, Double] = {
    val st = state(n)
    val mine = synchronized(spans.filter(_.pass == n).toList)
    val builds = mine.filter(_.name == "queries.build")
    val querySpans = mine.filter(_.name == "query")
    st.synchronized {
      val c = mutable.Map[String, Double]().withDefaultValue(0.0)
      Counters.foreach(k => c(k) = 0.0)
      c ++= st.counters
      c("queries.build_ms") = builds.map(s => s.end - s.start).sum
      c("queries.build_jobs") = st.jobs.count { case (s, _) =>
        builds.exists(b => s >= b.start && s <= b.end) }.toDouble
      val tasks = st.tasks.toList.sortBy(_._1)
      c("exec.no_task_ms") = querySpans.map(q => (q.end - q.start) - covered(tasks, q.start, q.end)).sum
      c("exec.busy_frac") = c("exec.run_ms") / math.max(1.0, (p1 - p0) * cores)
      c("op.codegen_ms") = (CodeGenerator.compileTime - st.codegenNs0) / 1e6
      c("cache.block_bytes") = st.blockPeak
      c.toMap
    }
  }

  def write(path: String): Unit = {
    val doc = om.createObjectNode()
    val arr = doc.putArray("spans")
    synchronized(spans.toList).sortBy(s => (s.start, s.id)).foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id); o.put("name", s.name); o.put("parent", s.parent)
      o.put("query", s.query); o.put("start_ms", s.start); o.put("end_ms", s.end)
      o.put("pass", s.pass)
    }
    val qa = doc.putArray("query_executions")
    synchronized(qes.toList).foreach(qa.add)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), om.writeValueAsString(doc))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, query: String,
                        start: Double, end: Double, pass: Int)

  /** Counters every traced pass reports, zero when the layer did no work. */
  val Counters: Seq[String] = Seq(
    "exec.jobs", "exec.stages", "exec.tasks", "exec.cpu_ms", "exec.run_ms",
    "exec.gc_ms", "exec.task_overhead_ms", "op.sort_ms", "op.agg_ms",
    "op.broadcast_ms", "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms", "spill.bytes",
    "scan.bytes", "scan.records", "sink.bytes", "sink.records",
    "stream.batches", "stream.input_rows", "stream.add_batch_ms",
    "stream.query_planning_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
    "stream.latest_offset_ms", "stream.get_batch_ms", "state.rows",
    "state.memory_bytes", "state.commit_ms")

  final class PassState {
    val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
    val tasks = mutable.ArrayBuffer[(Double, Double)]()
    val jobs = mutable.ArrayBuffer[(Double, Double)]()
    val jobStart = mutable.Map[Int, Double]()
    val blocks = mutable.Map[String, Double]()
    val batches = mutable.ArrayBuffer[ObjectNode]()
    var blockBytes = 0.0
    var blockPeak = 0.0
    var codegenNs0 = 0L
    def add(k: String, v: Double): Unit = counters(k) += v
  }

  /** Length of [lo, hi] covered by the union of sorted intervals. */
  def covered(sorted: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    sorted.foreach { case (s, e) =>
      val a = math.max(s, reach)
      val b = math.min(e, hi)
      if (b > a) { total += b - a; reach = b }
    }
    total
  }
}

/** Executed-plan operators with their SQL metrics, walking into AQE
  * stages and subqueries; each node once, even when reused. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  final case class Op(node: String, metrics: Map[String, (String, Long)]) {
    def metric(k: String): Double = metrics.get(k).map(m => toMs(m._1, m._2)).getOrElse(0.0)
    def timeMs: Double = metrics.values.map { case (t, v) => toMs(t, v) }.sum
  }
  private def toMs(kind: String, v: Long): Double = kind match {
    case "timing" => v.toDouble
    case "nsTiming" => v / 1e6
    case _ => 0.0
  }

  def operators(plan: SparkPlan): Seq[Op] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    collectWithSubqueries(plan) { case p if seen.add(p) => p }.map { p =>
      Op(p.nodeName, p.metrics.map { case (k, m) => k -> (m.metricType, m.value) })
    }
  }
}
