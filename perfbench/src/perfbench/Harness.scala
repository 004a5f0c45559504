package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.operators.Stage

/** Closed-loop harness for one workload: one client runs the workload's
  * queries back to back on `local[<available processors>]` and times
  * them from outside the program, around its public calls only:
  *
  *   - `GraftSession.builder().getOrCreate()`, the codegen-cache pin and
  *     a fixed warmup, once, as the first thing the JVM does;
  *   - one untimed check pass that dumps every query's result for the
  *     oracle comparison (it also compiles the workload's codegen), then
  *     [[WarmPasses]] untimed passes so the JIT settles;
  *   - timed passes until `seconds` have elapsed and at least
  *     [[MinPasses]] ran, each in a fresh `spark.newSession()`:
  *     `SparkEntry.queries(name)(session, dir)` (the build span, which
  *     runs eager staging and streaming replays) and the noop
  *     `DataFrameWriter.save()` (the save span).
  *
  * Counters come from listeners attached only around timed passes and
  * detached after the listener bus drains. Untraced runs attach one
  * task-end counter (executor CPU time); traced runs attach
  * [[Tracer.listener]] and a per-session [[Tracer.qeListener]] and also
  * write every span to the trace file.
  *
  * Writes one JSON document to `--out`; `run.py` turns it into metrics.
  */
object Harness {

  /** Untimed passes after the check pass: timed passes still fall by
    * ~25% over the first three passes a cold JVM makes. */
  val WarmPasses = 2
  /** Timed passes, even when `seconds` ran out earlier. */
  val MinPasses = 3
  private val cores = Runtime.getRuntime.availableProcessors

  final case class Conf(data: String, queries: Seq[String], seconds: Double,
                        trace: Boolean, out: String, checkDir: String, traceFile: String,
                        warehouse: String, injectThrow: Option[String],
                        injectWrong: Option[String])

  private def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = kv.get(k).filter(_.nonEmpty)
    Conf(kv("data"), kv("queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      kv("seconds").toDouble, kv("trace") == "1", kv("out"), kv("check-dir"),
      kv("trace-file"), kv("warehouse"), opt("inject-throw"), opt("inject-wrong"))
  }

  private val om = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val unknown = c.queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val doc = om.createObjectNode()
    doc.put("cores", cores)
    doc.put("min_passes", MinPasses)
    val tracer = if (c.trace) Some(new Tracer(cores)) else None

    val spark = setup(c, doc.putObject("setup"), tracer)
    try {
      checkPass(spark, c, doc.putArray("check"))
      val warm = doc.putArray("warm_ms")
      (1 to WarmPasses).foreach { _ =>
        val w0 = Clock.nowMs
        warmPass(spark, c)
        warm.add(Clock.nowMs - w0)
      }
      val passes = doc.putArray("passes")
      val t0 = System.nanoTime()
      var n = 0
      while (n < MinPasses || (System.nanoTime() - t0) / 1e9 < c.seconds) {
        n += 1
        timedPass(spark, c, n, passes.addObject(), tracer)
      }
      tracer.foreach(_.write(c.traceFile))
    } finally spark.stop()
    Files.writeString(Paths.get(c.out), om.writeValueAsString(doc))
  }

  /** Session creation plus warmup, timed once: the first `getOrCreate`
    * of a JVM, which loads and JIT-compiles Spark and graft. The sample
    * is (getOrCreate + codegen-cache pin, warmup). */
  private def setup(c: Conf, out: ObjectNode, tracer: Option[Tracer]): SparkSession = {
    val t0 = Clock.nowMs
    val spark = GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.sql.warehouse.dir", c.warehouse).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.pinCodegenCache(spark)
    val t1 = Clock.nowMs
    // the warmup Bench uses: scheduler, codegen and parquet-reader paths
    spark.range(1 << 20).selectExpr("sum(id)")
      .write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"${c.data}/lineitem.parquet").limit(1000)
      .write.format("noop").mode("overwrite").save()
    val t2 = Clock.nowMs
    out.put("session_ms", t1 - t0)
    out.put("warmup_ms", t2 - t1)
    tracer.foreach { t =>
      val id = t.span("setup", -1, "", t0, t2, 0)
      t.span("GraftSession.getOrCreate", id, "", t0, t1, 0)
      t.span("setup.warmup", id, "", t1, t2, 0)
    }
    spark
  }

  private def query(c: Conf, name: String): (SparkSession, String) => DataFrame =
    if (c.injectThrow.contains(name))
      (_, _) => throw new IllegalStateException(s"injected failure in $name")
    else SparkEntry.queries(name)

  /** Untimed: every query's result to `checkDir/<name>` (one parquet
    * file, as graft.Verify dumps it) for run.py's oracle comparison. */
  private def checkPass(spark: SparkSession, c: Conf, out: ArrayNode): Unit = {
    val session = spark.newSession()
    c.queries.foreach { name =>
      val r = out.addObject()
      r.put("query", name)
      val t0 = Clock.nowMs
      try {
        val df = query(c, name)(session, c.data)
        val dump = if (c.injectWrong.contains(name)) df.limit(0) else df
        dump.coalesce(1).write.mode("overwrite").parquet(s"${c.checkDir}/$name")
        r.put("ok", true)
      } catch { case e: Throwable => fail(r, name, "check", e) }
      r.put("ms", Clock.nowMs - t0)
    }
    Stage.evict(session)
    val spec = om.createObjectNode()
    val oracle = spec.putObject("oracle")
    val floors = spec.putObject("floors")
    c.queries.foreach { name =>
      SparkEntry.oracleSql.get(name).foreach(oracle.put(name, _))
      SparkEntry.auditFloors.get(name).foreach { case (col, bound, isMin) =>
        floors.putArray(name).add(col).add(bound).add(isMin)
      }
    }
    Files.writeString(Paths.get(s"${c.checkDir}/oracle.json"), om.writeValueAsString(spec))
    liveHeapMb()
  }

  /** Untimed and uncounted, like a timed pass otherwise (ending in the
    * same full collections): lets the JIT settle on the workload's code
    * before anything is measured. */
  private def warmPass(spark: SparkSession, c: Conf): Unit = {
    val session = spark.newSession()
    c.queries.foreach { name =>
      try query(c, name)(session, c.data).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[perfbench] $name failed in warmup: $e") }
    }
    Stage.evict(session)
    liveHeapMb()
  }

  private def fail(r: ObjectNode, name: String, where: String, e: Throwable): Unit = {
    r.put("ok", false)
    r.put("error", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    System.err.println(s"[perfbench] $name failed in $where: $e")
  }

  private def timedPass(spark: SparkSession, c: Conf, n: Int, out: ObjectNode,
                        tracer: Option[Tracer]): Unit = {
    val sc = spark.sparkContext
    val session = spark.newSession()
    val cpu = if (tracer.isEmpty) Some(new CpuListener) else None
    val listener: SparkListener = tracer.map(_.listener(n)).getOrElse(cpu.get)
    tracer.foreach(t => session.listenerManager.register(t.qeListener(n)))
    sc.addSparkListener(listener)
    val queries = out.putArray("queries")
    val p0 = Clock.nowMs
    c.queries.foreach { name =>
      val r = queries.addObject()
      r.put("query", name)
      val q0 = Clock.nowMs
      var q1 = q0
      try {
        val df = query(c, name)(session, c.data)
        q1 = Clock.nowMs
        df.write.format("noop").mode("overwrite").save()
        r.put("ok", true)
      } catch { case e: Throwable => fail(r, name, s"pass $n", e) }
      val q2 = Clock.nowMs
      r.put("build_ms", q1 - q0)
      r.put("save_ms", q2 - q1)
      tracer.foreach { t =>
        val id = t.span("query", t.passSpan(n), name, q0, q2, n)
        t.span("queries.build", id, name, q0, q1, n)
        if (q2 > q1) t.span("sources.save", id, name, q1, q2, n)
      }
    }
    val p1 = Clock.nowMs
    tracer.foreach(t => t.span("pass", -1, "", p0, p1, n, Some(t.passSpan(n))))
    // every event of this pass is delivered before counters are read
    PerfbenchBridge.drainListenerBus(sc, TimeUnit.SECONDS.toMillis(60))
    sc.removeSparkListener(listener)
    out.put("pass", n)
    out.put("wall_ms", p1 - p0)
    tracer match {
      case Some(t) =>
        val counters = t.passCounters(n, p0, p1)
        out.put("cpu_ms", counters("exec.cpu_ms"))
        val node = out.putObject("counters")
        counters.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
        val batches = out.putArray("batches")
        t.batchesOf(n).foreach(batches.add)
      case None => out.put("cpu_ms", cpu.get.cpuNs.sum() / 1e6)
    }
    Stage.evict(session)
    out.put("live_heap_mb", liveHeapMb())
  }

  /** Heap in use after full collections: staged blocks, state stores
    * and anything a pass leaked. Two rounds let the ContextCleaner drop
    * the blocks the first collection made unreachable. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The only counter of an untraced pass. */
  final class CpuListener extends SparkListener {
    val cpuNs = new java.util.concurrent.atomic.LongAdder
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) cpuNs.add(e.taskMetrics.executorCpuTime)
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same scale as Spark's event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}
