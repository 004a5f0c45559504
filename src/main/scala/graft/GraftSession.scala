package graft

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import graft.sources.LocalFs

/** Session factory with the engine's tuned defaults.
  *
  * Local mode is a stand-in for a multi-executor cluster: nothing here
  * hardcodes partition counts into operator code — shuffle parallelism is
  * session-level so a cluster deploy only changes the builder args.
  *
  * Every engine setting is a Spark conf with one constant default.
  * [[builder]] returns a `SparkSession.Builder`, so a deployment
  * overrides any of them the Spark way:
  * `GraftSession.builder(...).config(key, value)`. Two environment
  * variables remain: `SPARK_GRAFT_CPUS` (local cores and shuffle
  * partitions) and `SPARK_GRAFT_LOCAL_DIR` (the `spark.local.dir`
  * path). README's "Engine settings" table lists each conf and its
  * measured reason.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, read once. */
  private val envCpus: Option[Int] = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)

  def builder(master: String = s"local[${envCpus.getOrElse(32)}]",
              shufflePartitions: Int = envCpus.getOrElse(32))
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // InferFiltersFromGenerate duplicates the generator child into a
      // synthesized Filter (size(expr)>0 AND isnotnull(expr)) that predicate
      // pushdown then moves below repartition exchanges — for computed arrays
      // (HOF shingle/n-gram trees, interpreted eval) that re-evaluates the
      // expensive expression twice per row on the narrow pre-shuffle side.
      // Measured 11x on explode(shingleSet): 5.6s -> 0.5s at sf0.1. Generate
      // itself skips empty/null arrays, so excluding the rule is semantics-free.
      // InferFiltersFromConstraints does the same via inferred
      // isnotnull(derived-col): the null-check inlines the full derived
      // expression and pushes it below the spread. Our join keys/filters are
      // on never-null derived columns, so the inferred filters only cost.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate," +
          "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints")
      // Scan-split size for the LOCAL harness: the fixtures are single
      // files (tens of MB), so the 128 MB cluster default plans every
      // scan as ONE split and serializes it on one of 32 cores — the
      // sf1 lineitem (113 MB, 2 MB row groups via GenScale) scans
      // 32-wide with this, single-threaded without it. A cluster
      // deployment, whose files arrive in many 100 MB+ splits, raises
      // this back to the standard default with
      // `GraftSession.builder(...).config(key, value)` — like
      // shufflePartitions, it is a deployment setting, not operator
      // semantics.
      .config("spark.sql.files.maxPartitionBytes", (2L * 1024 * 1024).toString)
      // Scan-task packing to match that split size. Spark charges each
      // file `openCostInBytes` when it packs files into scan tasks, and
      // its 4 MB default is more than a whole 2 MB split, so every small
      // file became its own task: st_dated_sink's read-back of its 30
      // date files ran 30 tasks. 64 KB keeps Spark's own 1:32 ratio of
      // open cost to split size (4 MB : 128 MB), and the planner packs
      // small files into tasks of about 2 MB. A small open cost alone
      // would cut every single-file input into one chunk per core
      // (Spark sizes splits at total bytes / cores, floored at the open
      // cost), and a small file is one row group, so the extra chunks
      // run as empty tasks. `minPartitionNum = 1` makes the split size
      // min(2 MB, total bytes + files × open cost): a single file plans
      // exactly the splits it had under the 4 MB default, at any core
      // count, and only many-file inputs change. Measured on a 4-vCPU
      // host: st_dated_sink 31 → 3 scan tasks, perfbench
      // pipeline_sf002 cpu_s 1.02 → 0.80 s (10 alternating pairs), and
      // 742 → 413 scan tasks over the sf0.01 registry (SCALE.md).
      // Replay sessions raise the open cost back to the split size, so
      // their staged slices stay one task each
      // (StreamOps.replaySession). Like maxPartitionBytes, these scale
      // with the harness; a cluster restores Spark's defaults with
      // `GraftSession.builder(...).config(key, value)`. ScanPackingSpec
      // pins both halves.
      .config("spark.sql.files.openCostInBytes", (64L * 1024).toString)
      .config("spark.sql.files.minPartitionNum", "1")
      // AQE's coalesce floor (default 1 MB) serializes CPU-bound
      // post-shuffle stages at this harness's data sizes: the slim
      // per-vehicle lag window shuffles ~10 MB compressed at sf1 and
      // was coalesced to a handful of tasks on a 32-core box (window
      // sort + haversine are compute-bound, not IO-bound — measured
      // 0.52 → 0.39 s on ta_speed_lag at sf1). On a cluster feed the
      // shuffle dwarfs any floor and the setting is inert; like
      // maxPartitionBytes above it scales with the harness, not the
      // operators, and is overridden the same way
      // (`GraftSession.builder(...).config(key, value)`).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        (256L * 1024).toString)
      // managed (bucketed) tables land in scratch, not the repo cwd,
      // in a directory of this JVM's own: Bucketing.writeBucketed
      // deletes and rewrites its tables on every fresh JVM, so a shared
      // warehouse let two graft JVMs on one host corrupt each other's
      // bucketed tables mid-write
      .config("spark.sql.warehouse.dir", defaultWarehouseDir)
      // Report the sortBy order of bucketed scans (off by default
      // since 3.0 because a multi-file bucket can't guarantee it, and
      // the check lists files at planning). Bucketing.writeBucketed
      // repartitions on the bucket column before the write, so every
      // bucket is ONE sorted file by construction and the co-located
      // merge join runs sort-free — without this conf the join
      // re-sorts both pre-sorted sides on every query, which is the
      // cost the layout exists to pre-pay. The planning-time listing
      // is the same InMemoryFileIndex the scan builds anyway.
      // UPGRADE CHECKLIST (Spark-version dependence): this is a legacy
      // conf, a removal candidate in future Spark majors. Correctness
      // never depends on it — FileSourceScanExec only CLAIMS the sort
      // order when every bucket is a single file, which writeBucketed
      // guarantees — but if a Spark bump drops the conf, the bucket
      // join silently re-sorts. BucketingSpec's sort-free plan-shape
      // assertion is the tripwire: it fails on such an upgrade.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // Shuffle/spill scratch on tmpfs when the host has one. Every
      // local-mode shuffle map task commits its output under ONE
      // IndexShuffleBlockResolver lock (writeIndexFileAndCommit is
      // synchronized on the resolver), so the lock hold time is a
      // file create+write+rename on spark.local.dir — on this
      // container's virtio root disk that stalls for 1-20 ms under
      // host write-back pressure and serializes all 32 cores behind
      // it. A JFR profile of the "damaged" bistable bench state
      // (SURVEY §15) measured 48.8 s of IndexShuffleBlockResolver
      // monitor-blocked time in a 90 s window — the flat ~+0.3 s
      // per-query tax was THIS, not janino/dispatch. tmpfs makes the
      // critical section microseconds again. A cluster deployment
      // points this at its local SSDs via SPARK_GRAFT_LOCAL_DIR — the
      // standard knob (spark.local.dir), not operator semantics.
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", defaultLocalDir))
      // events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's parquet
      // reader rejects; read as Long (ns since epoch) and convert in-plan.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // The generated-class cache defaults to 100 entries; an engine
      // serving a ~100-query registry (each plan several codegen units)
      // evicts the whole working set every cycle and re-pays janino
      // compilation (~20-100 ms/unit) on every execution of every
      // query. Sized for the registry plus headroom — compiled classes
      // are small; this is standard tuning for a diverse query mix.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Share that cache ACROSS sessions. Spark 4.1 keys the global
      // generated-class cache on (context classloader, code), and with
      // artifact isolation on (the default) executors give every
      // session UUID its own IsolatedSessionState classloader — so
      // every newSession(), and every replaySession child, starts with
      // a cold cache and recompiles byte-identical code: 0.7-0.95 s of
      // janino in every perfbench pass, each pass a fresh session, on a
      // 4-vCPU host. Sharing it measured pass_s -36% / -26% and cpu_s
      // -57% / -50% (interactive_sf001 / pipeline_sf002). Isolation
      // only scopes jars/files/archives added to a session, and the
      // engine adds none. Creation-time only; children and streaming
      // clones inherit it. CodegenReuseSpec is the tripwire if a Spark
      // bump renames the conf or changes the cache key.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Session-window aggs: merge sessions map-side BEFORE the state
      // shuffle. The synthetic stream compresses ~10:1 (1M events →
      // 95k sessions at sf1), so pre-merging cuts both shuffle rows
      // and per-row state-store updates by that factor for one extra
      // in-partition sort — the right default for any engine whose
      // session streams compress, and measured ~0.2-0.3 s off
      // st_session_window's sf1 replay.
      .config("spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition", "true")
      // FileOutputCommitter v2 renames task output straight into the
      // destination at task commit instead of staging it for a second,
      // DRIVER-SEQUENTIAL rename pass at job commit. On the local-FS
      // bench this is noise (renames are ~free), but on an HDFS-backed
      // cluster the v1 job-commit loop serializes one namenode rename
      // per file — for the dated sinks that is |dates| x filesPerDate
      // renames on the driver per micro-batch. Tasks here are
      // deterministic, so a retried task rewrites identical bytes and
      // v2's weaker failure atomicity cannot produce a wrong zone;
      // recovery-critical writes (runToDatedRecoverable) additionally
      // gate visibility on their own _commits markers and never trust
      // directory presence alone.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // Spark 4.1 turned on checkpoint-file checksums by default
      // (spark.sql.streaming.checkpoint.fileChecksum.enabled, new in
      // 4.1): EVERY checkpoint file — offset/commit WAL entries and
      // every state-store delta/snapshot per partition per batch —
      // gets a companion .crc file written on commit and re-read on
      // load. That is a file-corruption guard for DURABLE checkpoint
      // storage (HDFS/S3 bit rot); the replay harness checkpoints are
      // ephemeral tmpfs scratch rebuilt per run, where the companion
      // files are pure per-batch file-op overhead on the micro-batch
      // floor (measured A/B in OPTIMIZATION_r20.md). A deployment
      // with durable checkpoints re-enables it with
      // `GraftSession.builder(...).config(key, "true")` — a durability
      // setting, not operator semantics.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // Hadoop's local file system without libhadoop forks a `chmod`
      // for every file create and mkdir, and a `readlink` for every
      // FileContext rename: parquet part files, task commits,
      // checkpoint temp files, WAL and state-store renames. One
      // graft.Verify run at sf0.01 started 3,875 subprocesses (2,585
      // chmod, 1,264 readlink); with these classes it starts 27, none
      // of them the file system's. On a 4-vCPU host that took the
      // micro-batch p50 of a traced pipeline_sf002 pass from 635 to
      // 299 ms, and its pass from 3.3 to 2.4 s. The classes make the
      // same two calls in-process and are stock otherwise (`.crc`
      // files, atomic no-overwrite rename). Behaviour is identical,
      // so there is no override. LocalFsSpec pins the binding, the
      // permission parity and the process count.
      .config(LocalFs.confs)
      .config("spark.ui.enabled", "false")

  /** Shuffle scratch under the shared pid-scoped policy
    * ([[PidScratch]]): a session start reclaims what a crashed graft
    * JVM leaked, while a concurrently-running one (bench re-roll child,
    * driver beside builder) keeps its live shuffle files. */
  private[graft] def defaultLocalDir: String =
    PidScratch.root("graft-local").toString

  /** `<java.io.tmpdir>/graft-warehouse/pid-<this pid>` under the
    * shared pid-scoped policy ([[PidScratch.claim]]: dead siblings are
    * reclaimed at session start). Under java.io.tmpdir rather than
    * [[PidScratch.root]]'s tmpfs preference: bucketed tables are data
    * that outlives a query, not shuffle scratch, and must not hold RAM. */
  private[graft] def defaultWarehouseDir: String =
    PidScratch.claim(Paths.get(sys.props("java.io.tmpdir"), "graft-warehouse")).toString

  /** The session every main runs on: `SPARK_GRAFT_CPUS` local cores
    * and shuffle partitions (`defaultCpus` when unset), WARN logging,
    * and the codegen cache pinned BEFORE the first action (the global
    * class cache sizes itself on first class-load, see
    * [[pinCodegenCache]]). WindowExec's "No Partition Defined" WARN is
    * quieted: the registry's unpartitioned windows all sit over
    * post-aggregation frames — the property RegistryPlanLintSpec
    * enforces — so the line is known-benign and only crowded the
    * bounded log tails the bench and verify runs capture. */
  def get(defaultCpus: Int): SparkSession = {
    val cpus = envCpus.getOrElse(defaultCpus)
    val spark = builder(master = s"local[$cpus]", shufflePartitions = cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    pinCodegenCache(spark)
    spark
  }

  /** JVM-once: forces `codegen.CodeGenerator`'s static initializer to
    * run while THIS session's conf is what `SQLConf.get` resolves, so
    * the GLOBAL generated-class cache is built at the session's
    * `spark.sql.codegen.cache.maxEntries` (5000, sized for the
    * registry) instead of the 100-entry default.
    *
    * The cache size is read exactly ONCE, in the object's static init
    * (verified in the Spark 4.1 bytecode: `SQLConf.get
    * .codegenCacheMaxEntries` inside `CodeGenerator$.<clinit>`). If the
    * class happens to first load on a thread where no session conf is
    * visible — a race decided by warmup concurrency, observed flipping
    * BISTABLY across identical full-suite benches — the cache is 100
    * entries for the JVM's lifetime and the ~100-query registry evicts
    * its compiled classes every pass: every query re-pays janino,
    * ~+0.4 s each, +14 s on the suite (the round-13 thrash, back as a
    * heisenbug). Pinning the init deterministically closes it.
    *
    * Sizing alone never made the cache shared ACROSS sessions: its key
    * includes the context classloader, and under artifact isolation
    * every session had its own, so each perfbench pass filled it with
    * entries from sessions that no longer existed. The builder's
    * `spark.sql.artifact.isolation.enabled=false` is what lets every
    * session hit the same entries. */
  private val codegenCachePinned = new java.util.concurrent.atomic.AtomicBoolean(false)
  def pinCodegenCache(spark: SparkSession): Unit =
    if (codegenCachePinned.compareAndSet(false, true)) {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      // any class-load of the object runs its static initializer
      Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
      ()
    }

  /** Idempotently equips an EXISTING session (one not built via
    * [[builder]], so without `spark.sql.extensions=graft.GraftExtensions`)
    * to run every SparkEntry query: registers the custom Catalyst
    * functions, adds the GeoRange optimizer rule, and sets the two
    * non-static confs correctness depends on (ns-as-long parquet reads
    * and the UTC session timezone the oracles assume). Called from
    * SparkEntry on every query dispatch; a GraftSession-built session
    * short-circuits on the functionExists probe.
    *
    * Artifact isolation can only be turned off when a session is
    * created, so a session not built by [[builder]] keeps Spark's
    * per-session isolation: it and every newSession() of it get their
    * own classloader and recompile their generated code instead of
    * sharing the JVM-wide compiled-class cache. Such a session also
    * keeps Hadoop's forking local file system: the `file:` binding
    * ([[graft.sources.LocalFs.confs]]) is a Hadoop conf of the
    * SparkContext, and Hadoop caches a scheme's `FileSystem` JVM-wide,
    * so it is not re-bound here. */
  def ensureFunctions(spark: SparkSession): SparkSession = {
    pinCodegenCache(spark)
    if (!spark.catalog.functionExists("array_dot")) {
      GraftExtensions.functions.foreach { case (id, info, b) =>
        org.apache.spark.sql.GraftRegistryBridge.register(spark, id, info, b)
      }
      if (!spark.experimental.extraOptimizations.contains(graft.plans.GeoRangeRule)) {
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ graft.plans.GeoRangeRule
      }
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
    spark
  }
}
