package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Registry-wide plan lint: walks EVERY registered query's physical
  * plan at sf0.001 and rejects the one join shape that is always a
  * scale bug — a shuffle-side cartesian product (CartesianProductExec:
  * both sides materialized and cross-paired with no key). The
  * legitimate tiny-side patterns (1-row audit stats, literal bounds,
  * centroid sets, the GeoNearest exactness net) plan as
  * BroadcastNestedLoopJoin and are untouched; anything that degrades
  * to a shuffled cartesian — e.g. a broadcast threshold change or a
  * lost equi-key — fails here before it fails at 100 TB.
  *
  * Doubles as a construction smoke test: every registered query must
  * at least build its plan on a vanilla-shaped session.
  *
  * The lints see each query's final physical plan. A subplan that a
  * `Stage.frame` checkpoint materialized is a scan of the checkpoint
  * here, so its own plan is not linted; nor are the per-batch plans
  * of a streaming replay.
  */
class RegistryPlanLintSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  // ONE pass over the registry feeds both lints: building a query's
  // plan executes any streaming replay it contains (the run* harnesses
  // are eager), so the pass leaves behind the physical plans AND the
  // SinkAudit trail of which sink every replay landed in.
  private lazy val frames: Seq[(String, org.apache.spark.sql.DataFrame)] = {
    graft.streaming.StreamOps.SinkAudit.clear()
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) => name -> fn(spark, sf) }
  }

  private lazy val plans: Seq[(String, org.apache.spark.sql.execution.SparkPlan)] =
    frames.map { case (name, df) => name -> df.queryExecution.executedPlan }

  test("no registered query plans a shuffled cartesian product") {
    val offenders = plans.flatMap { case (name, plan) =>
      val carts = collectWithSubqueries(plan) {
        case c: CartesianProductExec => c
      }
      if (carts.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"shuffled cartesian in: ${offenders.mkString(", ")}")
  }

  test("no operator evaluates the same lambda subtree twice") {
    // A higher-order function (filter, transform, aggregate, ...) runs
    // interpreted and is never common-subexpression-eliminated, so two
    // semantically equal copies in one operator walk the same array
    // twice per row. Copies arise when an expression is inlined into
    // several places: a fold that repeats each earlier score in its
    // condition and its branch, or a filter pushed through a projection
    // that substitutes an alias used twice. A scan's pushed dataFilters
    // repeat its parent Filter's condition and are not counted.
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.execution.FileSourceScanExec
    val offenders = plans.flatMap { case (name, plan) =>
      collectWithSubqueries(plan) { case p =>
        val exprs = p match {
          case scan: FileSourceScanExec =>
            scan.expressions.filterNot(e => scan.dataFilters.exists(_ eq e))
          case _ => p.expressions
        }
        exprs.flatMap(_.collect { case h: HigherOrderFunction => h.canonicalized })
          .groupBy(identity).collect {
            case (h, copies) if copies.size > 1 =>
              s"$name (${p.nodeName}: ${copies.size}x ${h.prettyName})"
          }
      }.flatten
    }
    assert(offenders.isEmpty,
      s"operators holding one lambda subtree more than once: ${offenders.mkString(", ")}")
  }

  test("unpartitioned windows appear only over post-aggregation frames") {
    // A Window with no PARTITION BY funnels every input row through
    // one task — the canonical scale-killer when the input grows with
    // a deployment (the pre-r17 GeoNearest ranked the whole signal
    // layer this way). The legal pattern is the documented
    // post-aggregation one: RankOps' offsets window over <=64 bucket
    // counts, Pack.prefixSum's totals window over bucket sums,
    // SpeedOps.topNGroups over an already-reduced per-group frame —
    // all sit directly above an aggregate, which this lint checks
    // structurally: descending from the window through
    // sort/exchange/projection wrappers must reach an aggregate exec
    // (or a limit-bounded TakeOrderedAndProject — the optimizer's
    // rank<=n pushdown under topNGroups, parallel and bounded at n
    // rows by construction) before any scan, join, or generator.
    // Row-level global ranking belongs in RankOps.withGlobalRank.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def inputOf(p: SparkPlan): SparkPlan = p match {
      case s: SortExec => inputOf(s.child)
      case e: exchange.ShuffleExchangeLike => inputOf(e.child)
      case p: ProjectExec => inputOf(p.child)
      case f: FilterExec => inputOf(f.child)
      case c: CoalesceExec => inputOf(c.child)
      case other => other
    }
    def isBounded(p: SparkPlan): Boolean = p match {
      case _: aggregate.HashAggregateExec => true
      case _: aggregate.ObjectHashAggregateExec => true
      case _: aggregate.SortAggregateExec => true
      case _: TakeOrderedAndProjectExec => true
      case _: GlobalLimitExec => true
      case _ => false
    }
    val offenders = plans.flatMap { case (name, plan) =>
      val bad = collectWithSubqueries(plan) {
        case w: WindowExec if w.partitionSpec.isEmpty && !isBounded(inputOf(w.child)) => w
        case w: WindowGroupLimitExec
          if w.partitionSpec.isEmpty && !isBounded(inputOf(w.child)) => w
      }
      if (bad.nonEmpty) Some(s"$name (${bad.head.getClass.getSimpleName} over ${inputOf(bad.head.children.head).getClass.getSimpleName})")
      else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned window over a non-aggregated frame in: ${offenders.mkString(", ")}")
  }

  test("no registered streaming query lands in the driver memory sink") {
    // Sink discipline: a memory sink collects EVERY output row into the
    // driver per micro-batch — for output that grows with the feed
    // (dedup = the distinct corpus, joins = match density, per-event
    // state transforms) that is the one bottleneck no executor count
    // can fix. Every registered replay must land distributed: parquet
    // (append), parquet+state, update-deltas, dated zone, or the
    // complete-mode snapshot refresh. runToMemory survives for
    // tests/probes only; this lint catches any future registry query
    // wired back onto it (it would have caught st_stream_dedup /
    // st_stream_join, which shipped driver-funneled through round 15).
    plans.length // force the registry pass
    val mem = graft.streaming.StreamOps.SinkAudit.memorySinks
    assert(mem.isEmpty, s"registered queries using the memory sink: $mem")
  }

  test("no batch query range-partitions a sort input SmallSortFinish would finish") {
    // A global sort whose input is under AQE's coalesce floor sorts in
    // one task (graft.plans.SmallSortFinish): no range-boundary sample
    // job and no range shuffle. The rule decides at runtime from the
    // sizes of materialized query stages, so this lint runs every batch
    // query and checks each range exchange left in its final adaptive
    // plan: the exchange's measured input must be above the floor, or
    // the operators between it and the nearest query stage or scan must
    // be ones the rule does not trust (a generator, an object operator,
    // an RDD or v2 scan, an explicit repartition). The measured size is
    // at most the rule's estimate, so a sort the rule rightly left alone
    // (estimate above the floor, measured below it) would show here
    // too; at sf0.001 none does. A Spark upgrade that reorders AQE's
    // rules, stops calling runtime optimizer rules or changes stage
    // statistics fails here. Runs last: it executes the plans the other
    // lints inspect.
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, BroadcastQueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.internal.SQLConf
    val floor = spark.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    // the physical forms of the operators whose size estimate the rule
    // trusts, down to a stage or a file/local scan
    def bounded(p: SparkPlan): Boolean = p match {
      case s: ShuffleQueryStageExec => s.shuffle.shuffleOrigin == ENSURE_REQUIREMENTS
      case _: BroadcastQueryStageExec | _: FileSourceScanExec | _: LocalTableScanExec => true
      case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: WindowExec |
           _: SortExec | _: BaseJoinExec | _: UnionExec | _: WholeStageCodegenExec |
           _: InputAdapter | _: AQEShuffleReadExec | _: ColumnarToRowExec =>
        p.children.forall(bounded)
      case _ => false
    }
    // the range exchange planned for a global sort (an explicit
    // repartitionByRange spread has its own shuffle origin)
    def sortRange(s: ShuffleQueryStageExec): Boolean = s.shuffle match {
      case e: ShuffleExchangeExec => e.shuffleOrigin == ENSURE_REQUIREMENTS &&
        e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
    val offenders = frames.filterNot(_._2.isStreaming).flatMap { case (name, df) =>
      df.collect()
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: ShuffleQueryStageExec if sortRange(s) &&
            s.getRuntimeStatistics.sizeInBytes <= floor && bounded(s.shuffle.child) =>
          s"$name (${s.getRuntimeStatistics.sizeInBytes} B)"
      }
    }
    assert(offenders.isEmpty,
      s"range exchange over a sort input under the ${floor} B coalesce floor in: ${offenders.mkString(", ")}")
  }
}
