package graft

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Store-independence gate for the state-store provider setting
  * (`spark.sql.streaming.stateStore.providerClass`, a runtime Spark
  * conf that every replay copies from its parent session): the same
  * stateful replay must produce HASH-IDENTICAL results under the
  * default HDFS-backed store and under RocksDB. A deployment sets the
  * conf because at deployment state sizes (dedup key spaces / session
  * maps past executor heap) RocksDB is the right store even though the
  * local sf1 A/B rejected it at this harness's sizes (SCALE.md round
  * 15) — a perf setting must never be a semantics setting.
  *
  * st_session_window is the gate query: flatMapGroupsWithState-free
  * but stateful (session-window aggregation), so every batch round-trips
  * the state store. The RocksDB run is a `newSession()` with the conf
  * set, so no other suite's session sees it. Rows alone would also
  * match if the conf silently failed to reach the replay, so each run
  * also records which provider its micro-batches reported: RocksDB's
  * state operators publish `rocksdb*` custom metrics, the default
  * store's do not.
  */
class StateStoreProviderSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The gate query's sorted rows on `session`, and whether any
    * micro-batch of its replay reported a `rocksdb*` state metric.
    * Replays run in child sessions, so the progress events are read
    * off the SparkContext's listener bus, which every session shares. */
  private def run(session: SparkSession): (Seq[String], Boolean) = {
    val sc = session.sparkContext
    val rocksMetrics = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent =>
          if (p.progress.stateOperators.exists(
              _.customMetrics.keySet.stream.anyMatch(_.startsWith("rocksdb"))))
            rocksMetrics.set(true)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      val df = SparkEntry.queries("st_session_window")(session, sf)
      val rows = df.collect().map(_.toString).sorted.toSeq
      ListenerBusBridge.drain(sc)
      (rows, rocksMetrics.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a stateful replay is hash-identical under RocksDB") {
    val (default, defaultOnRocks) = run(spark)
    assert(default.nonEmpty, "gate query returned no rows")
    assert(!defaultOnRocks, "the default run reported RocksDB state metrics")
    val rocksSession = spark.newSession()
    rocksSession.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDb)
    val (rocks, rocksOnRocks) = run(rocksSession)
    assert(rocksOnRocks,
      "the RocksDB run reported no rocksdb* state metrics: the provider conf did not reach the replay")
    assert(rocks === default,
      "st_session_window diverged between state store providers")
  }
}
