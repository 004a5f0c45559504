package graft
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
object Bench {

  /** Canary threshold (seconds): the suite's JVM is BISTABLE (SURVEY
    * §15) — fast (~42-47 s/104 queries; the canary query reads
    * 0.11-0.23 s IN-SUITE depending on host disk state) or damaged (a
    * flat ~+0.3-0.4 s/query tax; canary 0.45-0.56 s). 0.25 s sits
    * between the two modes with margin both ways.
    *
    * Round-15 ROOT CAUSE (JFR, see SURVEY §16): the "damage" was
    * 48.8 s/90 s of monitor-blocked time on IndexShuffleBlockResolver
    * — every local shuffle map task commits its index file under ONE
    * resolver lock, and when the container's root disk stalls under
    * host write-back pressure the 1-20 ms hold serializes all 32
    * cores on every shuffled query. GraftSession now puts
    * spark.local.dir on tmpfs, which removed the tax on a host whose
    * disk was measurably in the slow state (canary 0.53 -> 0.23,
    * suite 57.5 -> 46.7 s, attempt 1). The gate stays as the backstop
    * for any other whole-JVM damage mode.
    *
    * The canary reading is the suite's OWN measured min for
    * [[CanaryQuery]], judged AFTER the run: an isolated pre-suite
    * probe of the same query reads ~0.4-0.7 s even in a healthy JVM
    * (probed: min-of-8 isolated = 0.68 s where the same commit's full
    * suite reads 0.11 s — a single query never reaches the C2-compiled
    * steady state a 100-query suite establishes), so the documented
    * fast/damaged thresholds ONLY apply in-suite and the gate must sit
    * after the window, re-rolling the whole JVM when it trips. */
  val CanaryThresholdSec: Double =
    sys.env.getOrElse("SPARK_GRAFT_CANARY_MAX", "0.25").toDouble

  /** The trivially-planned registry query whose wall time separates the
    * two JVM states most cleanly (measured 0.11-0.12 s fast vs
    * 0.45-0.52 s damaged across the round-14 bisection runs). */
  val CanaryQuery = "mm_resize_plan"

  /** Same-window DuckDB sentinel: per-key DuckDB minima over the keys
    * both engines measured, and each engine's sum over those keys. */
  private final case class Sentinel(duckdb: Seq[(String, Double)],
                                    sparkSec: Double, duckdbSec: Double) {
    def ratio: Double = sparkSec / duckdbSec
  }

  /** 3-decimal fixed-point, written by Jackson exactly as formatted. */
  private def f3(v: Double): java.math.BigDecimal =
    new java.math.BigDecimal("%.3f".formatLocal(java.util.Locale.ROOT, v))

  /** `o.key` = {name: 3-decimal seconds}, in the given order. */
  private def putF3(o: ObjectNode, key: String,
                    kvs: Iterable[(String, Double)]): Unit = {
    val m = o.putObject(key)
    kvs.foreach { case (k, v) => m.put(k, f3(v)) }
  }

  private def putStrings(o: ObjectNode, key: String, xs: Iterable[String]): Unit = {
    val a = o.putArray(key)
    xs.foreach(x => a.add(x))
  }

  /** Relaunches this main in a FRESH JVM (same args, same classpath):
    * the bistable damage is per-JVM and not repairable in-process, so a
    * damaged canary read means the only fix is a new start roll.
    * Returns None when the environment cannot re-exec (classpath is an
    * sbt launcher, no java binary) — the caller then proceeds and
    * publishes the damaged-state canary honestly. */
  private def reexec(attempt: Int): Option[Int] = {
    val javaBin = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "java")
    val cp = sys.props("java.class.path")
    if (!java.nio.file.Files.isExecutable(javaBin) || cp == null ||
        !cp.contains("classes")) return None
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-agentlib")) // no debugger port collisions
    val cmd = (Seq(javaBin.toString) ++ jvmArgs ++
      Seq("-cp", cp, "graft.Bench")).asJava
    val pb = new ProcessBuilder(cmd)
    pb.environment().put("SPARK_GRAFT_CANARY_ATTEMPT", (attempt + 1).toString)
    pb.inheritIO()
    Some(pb.start().waitFor())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get(defaultCpus = 32)
    val om = new ObjectMapper()
    // warm codegen/scheduler/parquet-reader paths so the first measured
    // query is not charged for session startup (~5 s otherwise)
    try {
      spark.range(1 << 20).selectExpr("sum(id)")
        .write.format("noop").mode("overwrite").save()
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    val attempt = sys.env.getOrElse("SPARK_GRAFT_CANARY_ATTEMPT", "1").toInt
    // optional comma-separated subset for targeted perf iteration
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val errors = scala.collection.mutable.ListBuffer[String]()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Per-query JIT/codegen warmup at the smallest SF: each plan shape
    // compiles its codegen classes and lets C2 profile them on tiny
    // data, so the measured run below executes compiled code (first
    // execution of a cold plan is dominated by janino + interpreter
    // time, not by the engine). Skipped when the warmup SF is absent
    // or when it IS the bench target.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // canonical paths: a trailing slash or symlink must not let the
    // warmup silently run against the bench target itself
    def canon(p: String): String = new java.io.File(p).getCanonicalPath
    if (canon(warmDir) != canon(sfDir) && new java.io.File(warmDir).isDirectory) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      selected.foreach { case (_, fn) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            // warmup replays run CONCURRENTLY: one query's eager
            // state-store unload would abort a sibling's mid-commit
            // store (stacks in the bench stderr) — suppress it here;
            // the sequential measured loop unloads eagerly as before
            graft.streaming.StreamOps.SuppressStoreUnload.set(true)
            try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
            catch { case _: Throwable => () }
            // the pool is warmup-only today, but a leaked true on a
            // reused thread would silently skip measured-loop unloads
            finally graft.streaming.StreamOps.SuppressStoreUnload.remove()
          }
        })
      }
      pool.shutdown()
      // a warmup overrunning the cap must not overlap (and skew) the
      // measured loop — kill stragglers and wait for them to die
      if (!pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)) {
        System.err.println("[bench] warmup timed out; cancelling stragglers")
        pool.shutdownNow()
        pool.awaitTermination(2, java.util.concurrent.TimeUnit.MINUTES)
      }
      // the warmup's sf0.001 replays recorded their batch stats too;
      // the artifact's stream_batches must hold measured runs only
      graft.streaming.StreamOps.ReplayMetrics.clear()
    }
    // R full passes over the suite; per-query time = MIN across passes.
    // A single sequential pass cannot distinguish a real regression from
    // a transient host-contention window (round 5: a block of
    // alphabetically-contiguous queries read 4-8x slower with unchanged
    // code). OUTER rounds decorrelate contention from query identity —
    // a minute of throttling lands on different queries each pass, and
    // the min discards it; inner back-to-back repeats would keep every
    // repeat of a query inside the same window.
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt)
    // per query: (round, seconds). Pass 1 still pays residual sf-scale
    // first-execution costs (file listing, first large-split scan) that
    // the sf0.001 warmup cannot reach, so when repeats>=2 pass 1 is
    // excluded from the SPREAD (it measures warmup, not contention);
    // it still participates in the MIN, where inflation is harmless.
    val times = scala.collection.mutable.Map[String, List[(Int, Double)]]()
      .withDefaultValue(Nil)
    def runOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame, round: Int): Option[Double] = {
      val t0 = System.nanoTime()
      // noop sink, not count(): count() lets Catalyst prune every
      // projection (a haversine query would "bench" as a bare row count)
      val ok = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        val tag = s"$name: ${e.getClass.getSimpleName}"
        if (!errors.contains(tag)) errors += tag
        System.err.println(s"[bench] $name round $round FAILED: ${e.getMessage}")
        false
      }
      // a failed run is an error, never a (fast-looking) measurement
      if (ok) Some((System.nanoTime() - t0) / 1e9) else None
    }
    for (round <- 1 to repeats) {
      selected.foreach { case (name, fn) =>
        runOnce(name, fn, round).foreach(dt => times(name) = (round, dt) :: times(name))
      }
    }
    // REQUEUE pass: a query whose steady-state spread exceeds its own
    // min was measured through a host-contention window (round 9:
    // ta_* spreads up to 1.4 s, geo_poly_join 2.78 s vs a 1.19 s min —
    // code unchanged). Re-measure just those back-to-back: the extra
    // samples can only LOWER the min, and their own spread replaces
    // the contaminated one (a tight re-run is the distrust resolved;
    // a loose one keeps the flag). Requeued names are published.
    val requeued = scala.collection.mutable.ListBuffer[String]()
    // pre-requeue minima for every requeued query: extra back-to-back
    // samples can only LOWER a min-of-N, so publishing the original
    // minimum next to the final one quantifies what the re-measurement
    // bought — the consumer sees the effect instead of trusting that
    // selective re-runs didn't bias the flagged queries downward
    val premin = scala.collection.mutable.Map[String, Double]()
    if (repeats >= 2) {
      val unstable = selected.filter { case (name, _) =>
        val steady = times(name).filter(_._1 >= 2).map(_._2)
        steady.size >= 2 && (steady.max - steady.min) > steady.min
      }
      unstable.foreach { case (name, fn) =>
        requeued += name
        premin(name) = times(name).map(_._2).min
        // demote ALL original samples to round 1: they still feed the
        // min (which therefore can only drop), while the spread basis
        // becomes the re-runs alone
        val keep = times(name).map { case (_, dt) => (1, dt) }
        val rrs = (0 until 3).flatMap(i => runOnce(name, fn, 100 + i).map((2, _)))
        if (rrs.nonEmpty) times(name) = keep ++ rrs
      }
    }
    val results = selected.map { case (name, _) =>
      val ts = times(name)
      val steady = if (repeats >= 2) ts.filter(_._1 >= 2) else ts
      // spread basis: steady-state passes when there are >= 2 of them,
      // else ALL passes (repeats=2, or a query that failed in every
      // round >= 2); a single surviving sample has no variance evidence
      // at all — report the -1 sentinel, never a trustworthy-looking 0
      val basis = if (steady.size >= 2) steady else ts
      (name,
        if (ts.isEmpty) -1.0 else ts.map(_._2).min,
        if (basis.size >= 2) basis.map(_._2).max - basis.map(_._2).min
        else -1.0,
        // succeeded only in pass 1: the min is warmup-inflated and the
        // per-round failures sit in `errors` — flag it visibly
        repeats >= 2 && ts.nonEmpty && steady.isEmpty)
    }
    // GATE the window on the bistable-state canary AFTER measuring: a
    // damaged JVM taxes every query ~+0.4 s and poisons the whole
    // artifact (round 14 committed one such window). The canary is the
    // suite's own min for CanaryQuery; when it reads damaged, this
    // window is discarded and the whole bench re-rolls in a fresh JVM
    // (up to 3 starts — the state is per-JVM and not repairable
    // in-process). Subset runs (BENCH_ONLY) are iteration probes, never
    // blessed windows — they publish the canary but skip the re-roll.
    val canary = results.collectFirst {
      case (CanaryQuery, v, _, _) if v >= 0 => v }.getOrElse(-1.0)
    // ---- same-window DuckDB sentinel ----------------------------------
    // MEASUREMENT HARNESS ONLY (not engine code): time a small fixed set
    // of oracle queries in the driver-side python duckdb IN THIS SAME
    // window, so a window the canary stamps damaged still yields a
    // same-phase spark/duckdb ratio instead of an uninterpretable
    // headline (r18 verdict item 2 — 2 of 3 driver windows landed
    // damaged; cross-phase comparisons are meaningless at ±15-40% host
    // drift). Degrades to absent fields when python3/duckdb is missing —
    // the library itself depends on nothing here. Sentinel keys avoid
    // the events table so no TIMESTAMP(NANOS) view normalization is
    // needed; min-of-3 per query mirrors tools/baseline.py's discipline.
    val sentinelKeys = Seq("q1_pricing_summary", "q5_local_supplier",
      "q_rollup", "dd_exact", "tx_token_count")
    val sentinel: Option[Map[String, Double]] =
      if (only.nonEmpty || sys.env.get("SPARK_GRAFT_NO_SENTINEL").contains("1")) None
      else try {
        val spec = om.createObjectNode()
        spec.put("sf", sfDir)
        val tn = spec.putArray("tables")
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings").foreach(tn.add)
        val qn = spec.putObject("queries")
        sentinelKeys.foreach(k => SparkEntry.oracleSql.get(k).foreach(qn.put(k, _)))
        val py =
          """import duckdb, time, json, sys
            |spec = json.load(sys.stdin)
            |con = duckdb.connect()
            |for t in spec["tables"]:
            |    con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
            |                % (t, spec["sf"], t))
            |out = {}
            |for name, sql in spec["queries"].items():
            |    best = None
            |    for _ in range(3):
            |        t0 = time.perf_counter()
            |        con.sql(sql).fetchall()
            |        dt = time.perf_counter() - t0
            |        best = dt if best is None or dt < best else best
            |    out[name] = best
            |print(json.dumps(out))
            |""".stripMargin
        val pb = new ProcessBuilder(java.util.Arrays.asList("python3", "-c", py))
        pb.redirectErrorStream(false)
        val proc = pb.start()
        proc.getOutputStream.write(om.writeValueAsBytes(spec))
        proc.getOutputStream.close()
        val outBytes = proc.getInputStream.readAllBytes()
        if (!proc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)) {
          proc.destroyForcibly(); None
        } else if (proc.exitValue() != 0) None
        else {
          val node = om.readTree(outBytes)
          import scala.jdk.CollectionConverters._
          Some(node.properties().asScala
            .map(e => e.getKey -> e.getValue.asDouble()).toMap)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] duckdb sentinel unavailable: $e"); None
      }
    // ratio over the sentinel keys measured by BOTH engines in this
    // window: same phase on both sides by construction
    val sentinelPair: Option[Sentinel] =
      sentinel.filter(_.nonEmpty).flatMap { m =>
        val sparkSide = sentinelKeys.flatMap(k => results.collectFirst {
          case (`k`, v, _, _) if v >= 0 => k -> v })
        val common = sparkSide.filter { case (k, _) => m.contains(k) }
        if (common.isEmpty) None else {
          val duck = common.map { case (k, _) => k -> m(k) }
          Some(Sentinel(duck, common.map(_._2).sum, duck.map(_._2).sum))
        }
      }
    // The sentinel ratio is itself a damage gate: the r19 re-bless
    // caught a window whose canary read 0.175 (inside the 0.25 gate)
    // while every query carried a flat ~+0.1 s tax (total 47.9 s vs
    // 38.4 s re-rolled) — an intermediate host phase the bistable
    // canary never samples. DuckDB was at par in that same window, so
    // the spark/duckdb sentinel ratio separated the states cleanly:
    // 2.47 damaged vs 1.72/2.02 blessed. Gate at 2.2 (midpoint,
    // env-tunable); absent sentinel (no python3/duckdb) degrades to
    // the canary-only gate.
    val swrMax = sys.env.getOrElse("SPARK_GRAFT_SWR_MAX", "2.2").toDouble
    val swrBad = sentinelPair.exists(_.ratio > swrMax)
    val canaryBad = canary > CanaryThresholdSec
    // Re-roll budget: 2 of the last 3 driver rounds burned all 3
    // attempts back-to-back inside the SAME slow host phase (phases
    // last minutes; three consecutive ~60 s windows never escape one).
    // One more attempt plus an escalating sleep before re-rolls >= 2
    // spreads the attempts across phase boundaries at a bounded cost
    // (worst case +90 s over the old budget).
    val maxAttempts = sys.env.getOrElse("SPARK_GRAFT_CANARY_ATTEMPTS", "4").toInt
    if (only.isEmpty && (canaryBad || swrBad) && attempt < maxAttempts) {
      if (canaryBad)
        System.err.println(f"[bench] canary $CanaryQuery read $canary%.3f s (> " +
          f"$CanaryThresholdSec%.2f): damaged JVM window, attempt $attempt — re-rolling")
      else
        System.err.println(f"[bench] sentinel ratio ${sentinelPair.get.ratio}%.3f > " +
          f"$swrMax%.2f with canary $canary%.3f s: slow-phase window the canary " +
          f"missed, attempt $attempt — re-rolling")
      if (attempt >= 2) {
        val napSec = 30L * (attempt - 1)
        System.err.println(s"[bench] sleeping ${napSec}s before re-roll " +
          "to escape the host phase")
        Thread.sleep(napSec * 1000L)
      }
      reexec(attempt) match {
        case Some(code) => spark.stop(); sys.exit(code)
        case None => System.err.println(
          "[bench] cannot re-exec under this launcher; publishing damaged window")
      }
    }
    // The gate is no longer advisory past the re-roll budget: a window
    // that still reads damaged is STAMPED damaged in both artifact and
    // stdout line, and under SPARK_GRAFT_CANARY_STRICT=1 (the blessed
    // BASELINE/BENCH_LOCAL regeneration path) the run additionally
    // exits non-zero so no re-bless script can commit a slow-state
    // artifact as the headline. The default (driver per-round) path
    // still publishes — the driver needs an artifact every round, and
    // the damaged flag is the honest label on it.
    val damaged = only.isEmpty && (canaryBad || swrBad)
    val total = results.collect { case (_, v, _, _) if v >= 0 => v }.sum
    // FULL artifact (spread map included) goes to disk: stdout between
    // here and the driver's BENCH_r* capture gets tail-truncated (round
    // 6 lost the minima; round 10's capture cut the first 14 query
    // entries out of the single long line and json-parsed to null)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_LOCAL.json")
    // A window published past the re-roll budget must never be COMPARED
    // as if it were a fast-state window: when this run is damaged, the
    // previous artifact's fast-state window rides along as
    // "blessed_ref" (canary/value/sf/queries of the last undamaged
    // write — or ITS carried ref, so a chain of damaged runs still
    // points at the last real blessing) and downstream readers
    // (tools/survey_counts.py, round-over-round deltas) read that one.
    val blessedRef: Option[JsonNode] =
      if (!damaged) None
      else try {
        val p = java.nio.file.Paths.get(outFile)
        if (!java.nio.file.Files.isRegularFile(p)) None
        else {
          val prev = om.readTree(java.nio.file.Files.readString(p))
          val src =
            if (!prev.path("damaged").asBoolean(false)) Some(prev)
            else Option(prev.get("blessed_ref"))
          src.map { n =>
            val keep = om.createObjectNode()
            // canary_attempts rides along so a blessed_ref-quoting
            // reader never falls back to the damaged run's attempts
            // (mixed-provenance headline, r17 advice)
            Seq("canary", "canary_attempts", "value", "sf", "repeats",
                "queries").foreach { k =>
              if (n.has(k)) keep.set[JsonNode](k, n.get(k))
            }
            keep
          }
        }
      } catch { case _: Throwable => None }
    val full = om.createObjectNode()
      .put("metric", "total").put("unit", "sec").put("repeats", repeats)
      .put("sf", sfDir).put("canary", f3(canary))
      .put("canary_attempts", attempt).put("damaged", damaged)
    blessedRef.foreach(full.set[JsonNode]("blessed_ref", _))
    sentinelPair.foreach { sp =>
      putF3(full, "sentinel_duckdb", sp.duckdb)
      full.put("sentinel_spark_sec", f3(sp.sparkSec))
        .put("sentinel_duckdb_sec", f3(sp.duckdbSec))
        .put("same_window_ratio", f3(sp.ratio))
    }
    // spread = max-min across steady-state passes: a large spread flags a
    // measurement to distrust before calling it a regression
    putF3(full, "spread", results.map { case (k, _, sp, _) => k -> sp })
    putStrings(full, "errors", errors)
    putStrings(full, "warmup_only", results.collect { case (k, _, _, true) => k })
    putStrings(full, "requeued", requeued)
    putF3(full, "requeued_premin", requeued.map(n => n -> premin(n)))
    // per-micro-batch latency of the streaming replays (serving
    // contract: batch latency, not drain throughput), keyed by harness
    // run name — recorded by StreamOps.ReplayMetrics on the LAST run
    val batches = full.putObject("stream_batches")
    graft.streaming.StreamOps.ReplayMetrics.snapshot.toSeq.sortBy(_._1)
      .foreach { case (k, v) =>
        batches.putObject(k).put("n", v.n).put("p50_ms", v.p50Ms)
          .put("p95_ms", v.p95Ms).put("max_ms", v.maxMs)
      }
    putF3(full, "queries", results.map { case (k, v, _, _) => k -> v })
    full.put("value", f3(total))
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (om.writeValueAsString(full) + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outFile: $e") }
    // stdout gets ONE COMPACT line that must fit the driver's bounded
    // tail capture (2000 chars) NET of sbt's own trailer: sbt prints
    // "[success] Total time: …" (~75 chars) AFTER this line, and that
    // trailer rides inside the same last-2000-char window (round 12's
    // 1980-char qn+qms line head-truncated exactly this way and parsed
    // to null). So query NAMES never ride along at all: "qms" is the
    // per-query milliseconds aligned with the SORTED query-name order
    // (= the iteration order of SparkEntry.queries sorted by key, the
    // same order the disk artifact's "queries" map lists), and the
    // budget is 1800 chars. Everything else (names, spread, requeue
    // diagnostics, the 3-decimal map) lives in the artifact at "full".
    def line(withQueries: Boolean): String = {
      val o = om.createObjectNode()
        .put("metric", "total").put("unit", "sec").put("repeats", repeats)
        .put("sf", sfDir).put("canary", f3(canary)).put("damaged", damaged)
      // the same-window ratio rides the compact stdout line too (short —
      // one number), so the stdout capture carries it even if the full
      // artifact is not read
      sentinelPair.foreach(sp => o.put("same_window_ratio", f3(sp.ratio)))
      o.put("nerr", errors.size)
      // error DETAILS are bounded (first 2) so a broken run cannot push
      // the line back over the capture window; the count is always exact
      putStrings(o, "errors", errors.take(2))
      o.put("full", outFile).put("value", f3(total))
      if (withQueries) {
        val qms = o.put("enc", "qms=ms, sorted-name order").putArray("qms")
        results.foreach { case (_, v, _, _) =>
          qms.add(if (v < 0) -1L else math.round(v * 1000)) }
      }
      om.writeValueAsString(o)
    }
    // belt and braces: if a pathological error string still overflows
    // the budget, drop to the summary-only form rather than emit a line
    // the driver will truncate mid-JSON
    val json = if (line(true).length <= 1800) line(true) else line(false)
    println(json)
    System.out.flush()
    spark.stop()
    if (damaged && sys.env.get("SPARK_GRAFT_CANARY_STRICT").contains("1")) {
      System.err.println(f"[bench] STRICT: canary $canary%.3f s > " +
        f"$CanaryThresholdSec%.2f after $attempt attempts — refusing to bless")
      sys.exit(1)
    }
  }
}
