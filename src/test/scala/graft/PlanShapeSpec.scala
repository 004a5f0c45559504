package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Guards the physical-plan properties the scale design depends on —
  * a regression here wouldn't change results, only quietly wreck the
  * 100 TB story. Queries are executed first so AQE finalizes plans.
  */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  private def executed(df: DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan
  }

  test("q1: the shipdate filter and column pruning reach the parquet scan") {
    val plan = executed(SparkEntry.queries("q1_pricing_summary")(spark, sf))
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val scan = scans.head
    assert(scan.metadata("PushedFilters").contains("LessThan(l_shipdate"),
      s"filter not pushed: ${scan.metadata("PushedFilters")}")
    // 7 of 11 lineitem columns read — pruning active
    assert(scan.schema.fieldNames.length < 11)
  }

  test("ta_speed_lag: exactly one data shuffle (per-vehicle window) + final sort") {
    val plan = executed(SparkEntry.queries("ta_speed_lag")(spark, sf))
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 2, s"expected window+sort exchanges only:\n$plan")
  }

  test("ta_asof_weather: shuffles belong to the series agg and final sort only") {
    // since the broadcast as-of switch, the position stream itself is
    // never exchanged; the remaining shuffles are the (tiny) series
    // aggregation chain and the per-event result sort — the dedicated
    // broadcast-probe test below pins the probe side explicitly
    val plan = executed(SparkEntry.queries("ta_asof_weather")(spark, sf))
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 3, s"as-of shuffle count grew:\n$plan")
  }

  test("ss_brute_topk: the query set is broadcast, never shuffled") {
    val plan = executed(SparkEntry.queries("ss_brute_topk")(spark, sf))
    val bcasts = collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }
    assert(bcasts.nonEmpty, s"expected a broadcast of the query side:\n$plan")
  }

  test("q5: dimension tables are broadcast; the fact-fact join is row-arbitrated") {
    // region-first shape: EUROPE nations broadcast into supplier and
    // customer before any fact join; the reduced orders side goes
    // through Par.broadcastIfProxyFewRows (proxy = the orders scan) —
    // at this test scale the broadcast branch is correct, past the
    // cutoff the side stays unhinted for AQE's runtime arbitration
    val plan = executed(SparkEntry.queries("q5_local_supplier")(spark, sf))
    val bcasts = collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }
    assert(bcasts.size >= 2, s"expected broadcast dims in the snowflake:\n$plan")
  }

  test("q_orphan_check: anti joins shuffle on the key, never broadcast the parent") {
    val plan = executed(SparkEntry.queries("q_orphan_check")(spark, sf))
    val shjs = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j }
    assert(shjs.size >= 2, s"fk anti joins lost their shuffled-hash shape:\n$plan")
    // the only broadcasts allowed are the one-row count(*) totals the
    // audit row cross-joins in — never a parent key set
    val bhjs = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }
    assert(bhjs.isEmpty, s"a parent key set is broadcast:\n$plan")
  }

  test("tx_contamination: the train vocabulary is never broadcast") {
    // the train shingle set grows with the corpus; the overlap join
    // must stay a shuffled merge on the shingle hash
    val plan = executed(SparkEntry.queries("tx_contamination")(spark, sf))
    val bhjBuilds = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }
    // the only join allowed to broadcast is the final small hit-list
    // left join back onto the eval docs
    assert(bhjBuilds.size <= 1, s"train vocabulary broadcast crept back:\n$plan")
    val smjs = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(smjs.nonEmpty, s"overlap join lost its merge shape:\n$plan")
  }

  test("ta_session_stats: the session agg reuses the sessionize partitioning") {
    val plan = executed(SparkEntry.queries("ta_session_stats")(spark, sf))
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }
    // per-vehicle window shuffle + final orderBy range shuffle ONLY —
    // the (vehicle, session) groupBy must ride the window's partitioning
    assert(shuffles.size <= 2, s"session agg added a shuffle:\n$plan")
  }

  test("geo_poly_concave: poly-cell dim broadcast, containment in the join, 2-col scan") {
    val plan = executed(SparkEntry.queries("geo_poly_concave")(spark, sf))
    val bcasts = collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }
    assert(bcasts.nonEmpty, s"expected the exploded poly-cell dim broadcast:\n$plan")
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    // positions derive from event_id/user_id only — lat/lon never hit disk
    assert(scans.head.schema.fieldNames.toSet === Set("event_id", "user_id"),
      s"scan reads more than it needs: ${scans.head.schema.fieldNames.mkString(",")}")
  }

  test("tx_bpe_tokens: one scan, one spread exchange, tokenize in a single project") {
    val plan = executed(SparkEntry.queries("tx_bpe_tokens")(spark, sf))
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    assert(scans.size === 1, s"expected a single documents scan:\n$plan")
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }
    // Par.spread round-robin + final sort range exchange, nothing else
    assert(shuffles.size <= 2, s"tokenization must not add shuffles:\n$plan")
  }

  test("Par.spread: no exchange for a multi-split source, one for a single split") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("spread").toString
    val df = (1L to 4000L).map(i => (i, s"payload_$i")).toDF("id", "s")
    df.repartition(8).write.parquet(s"$dir/multi")   // 8 files of ~8 KB
    df.coalesce(1).write.parquet(s"$dir/single")     // 1 file  -> 1 split
    // 8 small files pack into ONE ~2 MB scan task under the session's
    // 64 KB open cost, so the multi-split source needs a split size
    // under the file size: each file then counts as >= 2 splits
    val split = spark.newSession()
    split.conf.set("spark.sql.files.maxPartitionBytes", "2048")

    val multi = graft.operators.Par.spread(split.read.parquet(s"$dir/multi"))
    val multiShuffles = collectWithSubqueries(executed(multi)) {
      case e: ShuffleExchangeLike => e
    }
    assert(multiShuffles.isEmpty,
      s"spread must not re-shuffle an already-split source:\n${multi.queryExecution.executedPlan}")

    val single = graft.operators.Par.spread(spark.read.parquet(s"$dir/single"))
    val singleShuffles = collectWithSubqueries(executed(single)) {
      case e: ShuffleExchangeLike => e
    }
    assert(singleShuffles.nonEmpty,
      s"spread must fan out a single-split source:\n${single.queryExecution.executedPlan}")
  }

  test("geo_osm parses run inside whole-stage codegen (from_xml broke the span)") {
    for (q <- Seq("geo_osm_xml_parse", "geo_osm_way_parse", "geo_osm_relation_parse")) {
      val plan = executed(SparkEntry.queries(q)(spark, sf))
      val spans = collectWithSubqueries(plan) {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.toString.contains("osm_") => w
      }
      assert(spans.nonEmpty,
        s"$q: the parse projection left whole-stage codegen:\n$plan")
    }
  }

  test("JSONL envelope parses run inside whole-stage codegen (from_json broke the span)") {
    for ((q, fn) <- Seq("ing_jsonl_positions" -> "position_record_parse",
        "ing_routes_jsonl" -> "routes_record_parse")) {
      val plan = executed(SparkEntry.queries(q)(spark, sf))
      val spans = collectWithSubqueries(plan) {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.toString.contains(fn) => w
      }
      assert(spans.nonEmpty,
        s"$q: $fn left whole-stage codegen:\n$plan")
    }
  }

  test("dd_ngram_jaccard: fused chain in codegen, ONE reused exchange feeds both join sides") {
    val df = SparkEntry.queries("dd_ngram_jaccard")(spark, sf)
    val plan = executed(df)
    val spans = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
        if w.toString.contains("sorted_shingle_hashes") => w
    }
    assert(spans.nonEmpty, s"fused shingle chain left codegen:\n$plan")
    assert(plan.toString.contains("ReusedExchange"),
      s"self-join sides must share one exchange:\n$plan")
  }

  test("ta_asof_weather: broadcast as-of probes with no shuffle of the big side") {
    val plan = executed(SparkEntry.queries("ta_asof_weather")(spark, sf))
    val bhj = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, s"expected a broadcast as-of probe:\n$plan")
    // the probe side of the as-of join carries no exchange: the only
    // shuffles in the whole plan belong to the series aggregation and
    // the final per-event sort, never the position stream feed
    val j = bhj.head
    val probe = j.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
      case _ => j.left
    }
    val probeShuffles = collectWithSubqueries(probe) {
      case e: ShuffleExchangeLike => e
    }
    assert(probeShuffles.isEmpty,
      s"broadcast as-of must not shuffle the probe side:\n$plan")
  }

  test("ag_approx_distinct: no HLL buffer crosses the pair-dedup exchange") {
    // dedup-first shape (r19): the distinct (event_type, user_id)
    // reduction shuffles bare keys; the 410-long partial HLL++ buffer
    // exists only ABOVE the dedup, on distinct pairs. The mixed
    // (countDistinct + approx) form re-plans level 1 with
    // partial_approx_count_distinct per pair and ships the buffer
    // through the first exchange (~3.3 KB/row) — and must stay
    // row-identical to the shipped shape (HLL insertion idempotence).
    val q = SparkEntry.queries("ag_approx_distinct")(spark, sf)
    val plan = executed(q)
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }
    // the per-GROUP partial buffer (one row per event_type per task)
    // legitimately crosses the final-agg exchange; the defect shape is
    // the buffer at PAIR granularity — an exchange carrying user_id
    // (the dedup key) next to the MS buffer columns
    val fat = shuffles.filter { e =>
      e.child.output.exists(_.name.startsWith("MS[")) &&
        e.child.output.exists(_.name == "user_id")
    }
    assert(fat.isEmpty,
      s"partial HLL buffer crossed the pair-level exchange:\n$plan")
    import org.apache.spark.sql.functions._
    val mixed = Tables.events(spark, sf).select("event_type", "user_id")
      .groupBy("event_type")
      .agg(approx_count_distinct("user_id", 0.02).as("approx_users"),
        countDistinct("user_id").as("exact_users"))
      .withColumn("rel_err",
        abs(col("approx_users") - col("exact_users")).cast("double") / col("exact_users"))
      .orderBy("event_type")
    assert(q.collect().toSeq == mixed.collect().toSeq,
      "dedup-first shape must be row-identical to the mixed aggregate")
  }
}
