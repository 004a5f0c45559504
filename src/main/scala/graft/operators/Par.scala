package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Shared fan-out helper. */
object Par {

  /** Broadcast hint iff the plan's own size estimate is under
    * `maxBytes` — the estimate-driven counterpart of the adaptive
    * as-of bucket count and the conditional [[spread]]. Use it for a
    * join side that is dimension-SHAPED at test scale but grows with
    * the corpus (TPC-H customer: 15 k rows at sf0.1, 15 B at 100 TB):
    * a hard `broadcast()` hint would OOM the large deployment, while
    * the planner's stat-based pick under-broadcasts locally (its
    * decompressed estimate of a narrow dim overshoots the default
    * 10 MB threshold). The 64 MB default is an executor-memory-safe
    * dim budget; past it the join stays shuffled. */
  def broadcastIfSmall(df: DataFrame,
                       maxBytes: Long = 64L << 20): DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= maxBytes) org.apache.spark.sql.functions.broadcast(df) else df
  }

  /** ROW-count-aware broadcast arbitration for a fact-shaped join side:
    * broadcast while the estimated build is cheap, pin the shuffled
    * MERGE past it. Bytes are the wrong variable here — a broadcast's
    * driver-side hash build is priced per ROW (measured on q5's pruned
    * orders side: 150k rows build in-noise, 1.5M rows cost ~0.7 s over
    * the merge the hint displaces — while both sit "small" under any
    * bytes budget). Rows are estimated width-aware from the plan's
    * sizeInBytes (the round-16 bucketing-threshold trick; rowCount
    * stats are absent without CBO): parquet compression makes the
    * estimate ~4x low, so the 50k default cuts at ~200k real rows —
    * inside the measured crossover band (the 150k-row side still wins
    * as a broadcast; 600k-row sides already lose). The merge (not shuffle_hash)
    * fallback is the memory-safe shape when both sides keep growing.
    *
    * Width caveat: the fixed per-type defaultSize prices a string
    * column at 20 bytes, so a schema dominated by long variable-width
    * strings can misestimate width by a large factor and flip the pick
    * across data distributions. Worst case is performance, never
    * memory safety (the fallback is the merge) — callers with such
    * schemas should pre-project to the narrow join columns (every
    * in-tree caller does) or pass a tightened maxEstRows. */
  def broadcastIfFewRows(df: DataFrame,
                         maxEstRows: Long = 50000L): DataFrame =
    if (estRows(df) <= maxEstRows) org.apache.spark.sql.functions.broadcast(df)
    else df.hint("merge")

  /** Row-arbitrated broadcast for a side whose OWN stats are useless —
    * a join output, where planning-time sizeInBytes is a byte product
    * that overshoots by orders of magnitude. The row estimate comes
    * from `proxy` instead: a scan-rooted frame whose cardinality upper-
    * bounds the side (q5: the reduced orders⨝customer side is at most
    * |orders|, the proxy is the orders scan). Width-aware rows from the
    * proxy's sizeInBytes, same parquet ~4x-low caveat as
    * [[broadcastIfFewRows]] — size the threshold against MEASURED
    * crossovers, not nominal row counts.
    *
    * Below the threshold the broadcast skips every exchange on the
    * probe side; above it the side stays UNHINTED (not merge-pinned):
    * the caller's join then plans as a shuffle whose real post-shuffle
    * size AQE re-arbitrates at runtime — the memory-safe path when
    * both sides keep growing, without blocking AQE's own runtime
    * broadcast flip the way a merge hint would. */
  def broadcastIfProxyFewRows(df: DataFrame, proxy: DataFrame,
                              maxEstRows: Long): DataFrame =
    if (estRows(proxy) <= maxEstRows) org.apache.spark.sql.functions.broadcast(df)
    else df

  /** The plan's row count when CBO stats carry one, else its
    * sizeInBytes over the schema's Catalyst-default row width (plus
    * the 8-byte row header), floored at 8 bytes. */
  private def estRows(df: DataFrame): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    val width = math.max(8, df.schema.fields.map(_.dataType.defaultSize).sum + 8)
    stats.rowCount.map(_.toLong).getOrElse((stats.sizeInBytes / width).toLong)
  }

  /** Spreads narrow rows across the session's shuffle parallelism
    * before a compute-bound stage (per-row parsing, hashing, pair
    * products) — but ONLY when the scan cannot already feed that many
    * tasks. A single-split source file pins all downstream work on one
    * core, and the round-robin shuffle of narrow rows is far cheaper
    * than the serial scan it prevents; a multi-file/multi-split source
    * (the normal case on a cluster) already parallelizes, and an
    * unconditional repartition there would be a pure extra full shuffle
    * of every input byte — at 100 TB, the dominant cost of the query.
    *
    * The probe reads file-listing METADATA from the analyzed plan's
    * file relations (already cached by the scan's FileIndex) — it never
    * touches `df.rdd`, because materializing the probe's physical plan
    * compiles its whole-stage-codegen classes, a per-call Janino tax
    * that showed up as a 0.5-2.5 s regression across every spread
    * caller in the round-4 bench. Split estimate per leaf:
    * ceil(fileSize / maxPartitionBytes) summed over files — the number
    * of independently consumable chunks a columnar scan yields (a small
    * parquet file is ONE row group regardless of how many sub-file
    * splits the scheduler plans, so planned-partition counts
    * overestimate effective parallelism). Non-file leaves (in-memory
    * test relations) estimate 1 and keep the pre-probe unconditional
    * behavior. */
  def spread(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val target = sess.conf.get("spark.sql.shuffle.partitions").toInt
    if (estimatedScanSplits(df) >= target) df else df.repartition(target)
  }

  /** Fan-out for a parse/compute stage whose final OUTPUT is ordered
    * by `keys`: range-exchange the narrow source FIRST and let the
    * caller finish with `sortWithinPartitions` over the full output
    * order. A trailing `orderBy` costs the expensive lineage twice —
    * RangePartitioning's boundary sampling executes the whole child
    * plan (synthesis + parse) once before the real pass runs it again
    * (profiled: the orderBy was 0.8 s of geo_osm_relation_parse's
    * 1.24 s at sf0.1). Exchanging the narrow pre-parse rows instead
    * makes the sample pass a bare column scan, runs the parse exactly
    * once (post-exchange), and yields the identical total order and
    * partition layout the orderBy would have produced — range
    * partitions are emitted in key order and each is sorted within.
    * Unconditional (unlike `spread`): an ordered result needs the
    * range exchange regardless of how many splits the scan has. */
  def spreadOrdered(df: DataFrame, keys: Column*): DataFrame = {
    // explicit partition count: a bare repartitionByRange lets AQE
    // coalesce the (narrow, tiny) pre-parse shuffle down to one
    // partition — which then serializes the expensive parse stage the
    // exchange exists to parallelize (measured: geo_osm_relation_parse
    // 1.24 -> 1.89 s before pinning)
    val target = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartitionByRange(target, keys: _*)
  }

  /** Estimated effective input splits of `df`'s scan: MAX over source
    * leaves. The widest leaf is the fact side whose scan feeds the
    * compute-bound work; taking the min would let any tiny dim file or
    * non-file leaf (estimate 1) drag the whole frame into a full
    * repartition of every input byte — the exact cost this probe exists
    * to avoid. A frame with NO file leaf (in-memory test relations)
    * still estimates 1 and keeps the pre-probe unconditional spread —
    * those frames are small by construction, so the round-robin shuffle
    * is noise there. */
  private def estimatedScanSplits(df: DataFrame): Long = {
    val maxSplit = math.max(1L,
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val leaves = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.listFiles(Nil, Nil).iterator
              .flatMap(_.files)
              .map(f => math.max(1L, (f.getLen + maxSplit - 1) / maxSplit))
              .sum
          case _ => 1L
        }
    }
    if (leaves.isEmpty) 1L else leaves.max
  }
}
