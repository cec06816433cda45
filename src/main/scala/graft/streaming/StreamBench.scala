package graft.streaming

import graft.GraftSession
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions._

/** Streaming micro-bench (round-8 verdict #6): the streaming twins are
  * correctness-tested against their batch oracles but had no performance
  * signal. Times each stateful/watermarked operator end-to-end over the
  * events table at $SPARK_GRAFT_SF_DIR with `Trigger.AvailableNow` into a
  * memory sink, and prints ONE JSON line — same contract shape as
  * `graft.Bench`, so a future round can diff the numbers
  * (docs/ROUND8_NOTES.md carries the first baseline).
  *
  * Wall-clock includes micro-batch planning + state-store overhead — that
  * is the point: watermark/state operators regress through exactly those
  * layers, which batch timings never see.
  */
object StreamBench {

  /** Run `body` with the RocksDB state-store provider, restoring the
    * suite-wide provider choice after — `transformWithState` requires
    * RocksDB regardless of the `SPARK_GRAFT_STREAM_STATE_PROVIDER` arm.
    */
  private def withRocksDb(spark: org.apache.spark.sql.SparkSession)(
      body: => Any): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try { body; () }
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Streaming state partitions sized to bench volumes, not the batch
    // default (round-8 verdict #1): the 17.8s r8 baseline was ~100%
    // per-batch state-store commit overhead × 32 partitions. See
    // EventStream.StreamShufflePartitionsConf for the full rationale.
    spark.conf.set(EventStream.StreamShufflePartitionsConf,
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "4"))
    // State-store provider arm (round-9: the other half of verdict #1's
    // "evaluate RocksDB vs HDFSBackedStateStore commit cost"). Accepts the
    // shorthands "rocksdb"/"hdfs" or a fully-qualified provider class.
    sys.env.get("SPARK_GRAFT_STREAM_STATE_PROVIDER").foreach { p =>
      val cls = p.toLowerCase(java.util.Locale.ROOT) match {
        case "rocksdb" =>
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        case "hdfs" =>
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
        case _ => p
      }
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", cls)
    }
    import spark.implicits._

    // file stream sources watch a directory — stage the bounded table once
    val staged = java.nio.file.Files.createTempDirectory("stream_bench_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      staged.resolve("events.parquet"))
    val path = staged.toString

    def events() = EventStream.readEvents(spark, path)
    def typed() = events()
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamEvent]

    val cases: Seq[(String, () => Unit)] = Seq(
      "tumbling_daily" -> (() => EventStream.runToMemory(spark,
        EventStream.tumblingDaily(events()), "sb_tumbling")),
      "stream_stream_join" -> { () =>
        val p = events().filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("event_id").as("p_id"))
          .withWatermark("p_ts", "1 hour")
        val sgn = events().filter(col("event_type") === "signup")
          .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
            col("event_id").as("s_id"))
          .withWatermark("s_ts", "1 hour")
        EventStream.runToMemory(spark, p.join(sgn,
            col("p_user") === col("s_user") && col("s_ts") <= col("p_ts") &&
              col("s_ts") >= col("p_ts") - expr("interval 1 hour"))
          .select("p_id", "s_id"), "sb_ss_join", OutputMode.Append())
        ()
      },
      "dedup_by_id" -> (() => EventStream.runToMemory(spark,
        EventStream.dedupById(events()).select("event_id"), "sb_dedup",
        OutputMode.Append())),
      "sessionize_fmgws" -> (() => EventStream.runToMemory(spark,
        // AvailableNow over the static dir = one micro-batch: tail flush safe
        EventStream.sessionize(typed(), flushOpenTails = true).toDF(),
        "sb_sessions",
        OutputMode.Append())),
      "latest_snapshot_upsert" -> (() => EventStream.runToMemory(spark,
        EventStream.latestSnapshot(typed()).toDF(), "sb_latest",
        OutputMode.Update())),
      "funnel_stages" -> (() => EventStream.runToMemory(spark,
        EventStream.funnelStages(typed()).toDF(), "sb_funnel",
        OutputMode.Update())),
      // transformWithState requires RocksDB regardless of the suite-wide
      // provider choice — set-and-restore around these cases
      "priority_sample_tws" -> { () =>
        withRocksDb(spark)(EventStream.runToMemory(spark,
          EventStream.prioritySampleTws(typed()).toDF(), "sb_priority",
          OutputMode.Update()))
      },
      "cms_sketch_tws" -> { () =>
        withRocksDb(spark)(EventStream.runToMemory(spark,
          EventStream.cmsSketchTws(typed()).toDF(), "sb_cms",
          OutputMode.Update()))
      },
      "hll_sketch_tws" -> { () =>
        withRocksDb(spark)(EventStream.runToMemory(spark,
          EventStream.hllSketchTws(typed()).toDF(), "sb_hll",
          OutputMode.Update()))
      })

    // one untimed warmup of the cheapest case pays source-probe + codegen
    try cases.head._2() catch { case _: Throwable => }
    // a failed case must not masquerade as a fast one: its time is emitted
    // as null, its name lands in "errors", and the process exits non-zero,
    // so a diff of bench JSONs can never read a new failure as a speedup
    // SPARK_GRAFT_STREAM_PROFILE=1: decompose each case's wall-clock into
    // the engine's own durationMs buckets (summed over micro-batches) plus
    // state-store commit time — the "where does the fixed cost sit" answer
    // (round-9 verdict #3). stderr only; the stdout contract stays one line.
    val profile = sys.env.get("SPARK_GRAFT_STREAM_PROFILE").contains("1")
    def printProfile(name: String): Unit = if (profile) {
      val evs = EventStream.lastProgressEvents
      val buckets = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      var stateCommit = 0L
      evs.foreach { p =>
        p.durationMs.forEach((k, v) => buckets(k) = buckets.getOrElse(k, 0L) + v)
        p.stateOperators.foreach(so => stateCommit += so.commitTimeMs)
      }
      val parts = buckets.map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
      // recentProgress retains only the last N progress updates (default
      // 100) — a case running more micro-batches than that would sum a
      // truncated window; flag it so the decomposition can't silently
      // under-report (bench volumes run 1-2 batches, far below the cap)
      val cap = spark.conf
        .get("spark.sql.streaming.numRecentProgressUpdates", "100").toInt
      val trunc = if (evs.size >= cap) s" TRUNCATED(retention=$cap)" else ""
      System.err.println(s"[streamprof] $name batches=${evs.size} $parts " +
        s"stateCommit=${stateCommit}ms$trunc")
    }
    val results: Seq[(String, Option[Double])] = cases.map { case (name, run) =>
      val t0 = System.nanoTime()
      val ok = try { run(); true } catch { case e: Throwable =>
        System.err.println(s"[streambench] $name failed: ${e.getMessage}")
        false
      }
      if (ok) printProfile(name)
      name -> (if (ok) Some((System.nanoTime() - t0) / 1e9) else None)
    }
    def sec3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + v.fold("null")(sec3)
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => k }
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"stream_total","value":${sec3(results.flatMap(_._2).sum)},""" +
      s""""unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
