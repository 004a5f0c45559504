package graft

import graft.streaming.StreamOps

/** The finite-replay state-task count has one source: the session's
  * shuffle parallelism / 8, clamped to [2, 8]. */
class ReplayStatePartsSpec extends SparkSpec {

  test("replayStateParts derives parallelism/8 clamped to [2, 8]") {
    for ((parallelism, parts) <- Seq(4 -> 2, 32 -> 4, 128 -> 8)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parallelism.toString)
      assert(StreamOps.replayStateParts(s) === parts,
        s"shuffle parallelism $parallelism")
    }
  }
}
