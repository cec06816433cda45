package graft

import org.apache.spark.sql.SparkSession

/** The engine's session posture in ONE place (SURVEY.md §7.4.7): AQE on,
  * UTC, shuffle parallelism sized to the machine (never the 200-partition
  * default), dynamic partition overwrite for idempotent partitioned loads,
  * the graft Catalyst extensions (functions + as-of strategy + pushdown
  * rule) registered at build time, and one executor class loader (so one
  * codegen cache) for every session. `Verify`/`Bench`/`Main` and library
  * users all start here, so a tuning change lands everywhere at once.
  *
  * Note the queries themselves never *require* this posture: each one
  * registers the functions it needs idempotently, so they also run on a
  * caller-provided vanilla session (the driver's smoke test does exactly
  * that).
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // BloomFilterAggregate (surfaced as `bloom_agg`, and the sketch the
      // InjectRuntimeFilter rule plants) silently clamps its numItems/numBits
      // args to these confs via Math.min — the defaults (4M items / 64M bits)
      // cut an explicitly-sized 8-bits/key sketch to ~2 bits/key at the 30M-key
      // sf100 shape (~35-40% FPP instead of 2%). Raise the ceilings to the
      // 32 MB broadcastable cap ScalePatterns.bloomPrunedJoin sizes against;
      // queries still pass exact sizes, these only stop the silent truncation.
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
        (32L << 20).toString)
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
        (256L << 20).toString)
      // Let AQE pick the REDUCER COUNT per exchange instead of pinning it
      // to the thread count: exchanges start at 8× the configured shuffle
      // parallelism and AQE coalesces back down by size. With the default
      // (initial = shuffle.partitions = 32) AQE can only ever coalesce
      // DOWN, so a 1000×-corpus join shuffles multi-GB reducer partitions
      // that spill — the r18 sweep's 16-28× last-decade jumps
      // (join_priority_shipping, q10, null_handling) all carried this
      // signature. At bench SFs the coalescer folds the extra partitions
      // straight back (parallelismFirst keeps ≥ one wave), so small-SF
      // plans and numbers are unchanged; at 100 TB the same conf is what
      // keeps reducer partitions near the 64 MB advisory size.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (shufflePartitions * 8).toString)
      // Above 32 paths (parallelPartitionDiscovery.threshold) Spark lists
      // files in a parallel job of min(paths, this) tasks — by default one
      // task per path. The streaming file source lists every micro-batch's
      // files that way, and again for the last committed batch when a
      // query restarts: 264 one-file tasks to re-list an 11-day backfill on
      // the first daily run. Cap a listing job at one task per core; on a
      // cluster it still lists in parallel.
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
        shufflePartitions.toString)
      // Spark 4 gives every session its own executor class loader by
      // default, for artifacts (jars, classes) added to that session. The
      // codegen cache is keyed by class loader, so each new session — a
      // `newSession()`, and the clone every streaming query runs its
      // batches in — would recompile the whole-stage code the sessions
      // before it compiled and run it cold (27 classes per
      // Report1StreamJob.runOnce()). The engine adds no session artifacts,
      // so the isolation guards nothing here; off, every session's tasks
      // share the default loader and one codegen cache. Spark reads it when
      // a session is built, so it is set here, not per query.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Runtime semi-reduction (InjectRuntimeFilter): Spark 4 enables the
      // rule by default but its thresholds are cluster-sized — the probe
      // side must scan >10 GiB and the build side estimate <10 MiB, so at
      // any shape we can measure locally it NEVER fires, and at 100 TB a
      // 30M-key filtered dim (estimate ≫10 MiB) still wouldn't get a
      // filter. Rescale both: inject when the probe scan exceeds 256 MiB
      // and allow build sides up to 256 MiB (the sketch itself stays
      // bounded by the maxNumItems/maxNumBits ceilings above — only
      // selective-filtered build sides qualify, per the rule's own
      // isLikelySelective gate). q10's R-flag lineitem vs 3-month orders
      // slice drops its full fact shuffle for one bloom probe.
      .config("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        (256L << 20).toString)
      .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        (256L << 20).toString)
      // Static conf, so it must be set at session build. The default (100)
      // thrashes on a ~200-query suite: the warmup pass alone cycles more
      // codegen classes than the cache holds, so every timed query
      // recompiles its whole-stage code — a fixed ~0.3s/query inflation
      // that grows with suite size (the r5→r6 mid-pack slowdown). Sized so
      // one full suite's classes stay resident.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
    // Single-JVM local mode shares RPC dispatcher threads with the 32
    // executor threads: under full CPU saturation on a 1000×-scale
    // corpus the 10 s default heartbeat can time out 60 consecutive
    // times, the executor exits, and the context dies mid-suite (the
    // r16 sf100 re-measure hit exactly this). Heartbeats between a
    // driver and an executor in the SAME process carry no liveness
    // signal worth killing the JVM over — make them patient. Gated on
    // local masters: on a real cluster a 20-minute network timeout would
    // delay dead-executor detection, and the defaults are right there.
    if (master.startsWith("local"))
      b.config("spark.executor.heartbeatInterval", "60s")
        .config("spark.network.timeout", "1200s")
    else b
  }
}
