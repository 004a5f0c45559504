package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(session, input-dir) staging memo for lineage shared across a
  * query family — the engine-wide pattern behind the dedup family's
  * pair graph, the similarity family's exact-baseline audits and the
  * adaptive geo grid's density probe. In a real pipeline these are
  * SEPARATE STAGES sharing one artifact (pair generation runs once;
  * clustering, keep-lists, audits all consume it); staging them once
  * per session+input is the same stage-once-then-query discipline as
  * the bucketed-join tables.
  *
  * Frames are `localCheckpoint(eager = false)`, which under AQE is only
  * half lazy: the call itself runs one "localCheckpoint" SQL execution
  * that materializes every shuffle-map and broadcast stage of the
  * frame's plan (at sf0.001: 3 jobs for the dedup pair graph, 1 — the
  * labels' broadcast — for the cluster labels), and only the final
  * stage waits for the first ACTION that reads the frame. Later
  * queries (or bench repeats) read the stored blocks. Keyed by session
  * so spec sessions never cross-pollinate, and by dir so scale factors
  * never collide (DedupSpec pins both properties).
  *
  * Builds run OUTSIDE the map's lock: stages build on each other, and
  * a nested computeIfAbsent on one ConcurrentHashMap throws
  * IllegalStateException when the keys share a bin. Racing builders at
  * worst duplicate a lazy plan construction; putIfAbsent keeps exactly
  * one winner.
  */
object Stage {

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), AnyRef]()

  /** Drops every entry owned by a session whose SparkContext has
    * stopped. Checkpointed frames of a dead context are unreadable AND
    * unreclaimable while the memo pins them — across a many-session
    * test suite that is a slow executor-block leak. Runs automatically
    * on every memo access (the map is small: one entry per staged
    * artifact), so a long-lived JVM self-heals without anyone calling
    * [[evict]]. Entries of a still-running session are never touched —
    * a context-sharing sibling session keeps its stages. */
  private def purgeStopped(): Unit = {
    val it = cache.keySet().iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
  }

  /** Explicitly releases all stages of `s` (e.g. a service swapping
    * input dirs mid-session, or a suite tearing a session down while
    * its context lives on). Dropping the map references is the whole
    * job: localCheckpoint blocks are reclaimed by the ContextCleaner
    * once the RDDs become unreachable. Returns entries removed. */
  def evict(s: SparkSession): Int = {
    var n = 0
    val it = cache.keySet().iterator()
    while (it.hasNext) if (it.next()._1 eq s) { it.remove(); n += 1 }
    n
  }

  /** Staged-entry count for `s` — observability + spec probe. */
  def entriesFor(s: SparkSession): Int = {
    var n = 0
    val it = cache.keySet().iterator()
    while (it.hasNext) if (it.next()._1 eq s) n += 1
    n
  }

  private def memo[T <: AnyRef](s: SparkSession, dir: String, key: String)
                               (build: => T): T = {
    purgeStopped()
    val k = (s, dir, key)
    val existing = cache.get(k)
    if (existing != null) existing.asInstanceOf[T]
    else {
      val built = build
      val prev = cache.putIfAbsent(k, built)
      if (prev != null) prev.asInstanceOf[T] else built
    }
  }

  /** A staged DataFrame: built once per (session, dir, key), shared as
    * a non-eager localCheckpoint (its shuffle-map and broadcast stages
    * run here; see above). */
  def frame(s: SparkSession, dir: String, key: String)
           (build: => DataFrame): DataFrame =
    memo(s, dir, key)(build.localCheckpoint(eager = false))

  /** A staged value (a hot list, a fitted quantizer) — the build MAY run
    * Spark actions; it executes once per (session, dir, key). */
  def value[T <: AnyRef](s: SparkSession, dir: String, key: String)
                        (build: => T): T =
    memo(s, dir, key)(build)
}
