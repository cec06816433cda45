package graft

import graft.streaming.{EventStream, StreamEvent}
import org.apache.spark.sql.functions._

/** Stream/batch parity: the streaming operators must produce exactly the
  * batch results (which are themselves DuckDB-oracle-checked) on the bounded
  * sf0.001 events table.
  */
class StreamingSpec extends SparkSpec {

  // the file stream source wants a *directory* to watch — stage the bounded
  // events table into one (prod points this at the landing dir)
  private lazy val eventsPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming tumbling daily agg equals the batch (oracle-checked) result") {
    val stream = EventStream.readEvents(spark, eventsPath)
    val got = EventStream.runToMemory(spark,
        EventStream.tumblingDaily(stream), "stream_tumbling")
      .orderBy("day", "event_type").collect().map(_.toSeq).toSeq
    val expected = ops.EventOps.tumblingDaily(spark, sfDir)
      .select("day", "event_type", "n_events", "sum_value")
      .orderBy("day", "event_type").collect().map(_.toSeq).toSeq
    assert(got == expected)
  }

  test("reduced streaming state partitions: identical results") {
    // a stream's state partition count is the session's shuffle setting
    // at its first start: it must change only WHERE state lives, never
    // results
    val batchParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      val stream = EventStream.readEvents(spark, eventsPath)
      val got = EventStream.runToMemory(spark,
          EventStream.tumblingDaily(stream), "stream_tumbling_p3")
        .orderBy("day", "event_type").collect().map(_.toSeq).toSeq
      val expected = ops.EventOps.tumblingDaily(spark, sfDir)
        .select("day", "event_type", "n_events", "sum_value")
        .orderBy("day", "event_type").collect().map(_.toSeq).toSeq
      assert(got == expected,
        "streaming result changed under a reduced state partition count")
    } finally spark.conf.set("spark.sql.shuffle.partitions", batchParts)
  }

  test("stateful sessionize is stream-partition invariant (2 vs 5)") {
    // the streaming twin of DeterminismSpec: a fully stateful
    // flatMapGroupsWithState pipeline re-run at two state partition
    // counts must produce the identical session multiset — state
    // partitioning decides WHERE keys live, never what they emit
    import spark.implicits._
    def run(parts: String, name: String): Seq[Seq[Any]] = {
      val batchParts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val stream = EventStream.readEvents(spark, eventsPath)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[StreamEvent]
        EventStream.runToMemory(spark,
            EventStream.sessionize(stream, flushOpenTails = true).toDF(), name,
            org.apache.spark.sql.streaming.OutputMode.Append())
          .orderBy("user_id", "session_start_epoch")
          .collect().map(_.toSeq).toSeq
      } finally spark.conf.set("spark.sql.shuffle.partitions", batchParts)
    }
    val at2 = run("2", "det_sessions_p2")
    val at5 = run("5", "det_sessions_p5")
    assert(at2.nonEmpty, "sessionize produced no sessions at 2 partitions")
    assert(at2 == at5,
      s"sessionize changed under a different stream partition count; " +
        s"first diff: ${at2.zip(at5).find(p => p._1 != p._2)
          .orElse(Some((s"sizes ${at2.size}", s"${at5.size}")))}")
  }

  test("watermark drops late data beyond the delay in update mode") {
    // structural check: the plan carries the 30-minute watermark
    val agg = EventStream.tumblingDaily(EventStream.readEvents(spark, eventsPath))
    assert(agg.queryExecution.analyzed.toString.contains("30 minutes"))
  }

  test("watermarked stream-stream interval join matches the batch equivalent") {
    import org.apache.spark.sql.functions._
    // purchases joined to the same user's signups within the preceding hour
    val purchases = EventStream.readEvents(spark, eventsPath)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val signups = EventStream.readEvents(spark, eventsPath)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
        col("event_id").as("s_id"))
      .withWatermark("s_ts", "1 hour")
    val joined = purchases.join(signups,
      col("p_user") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("interval 1 hour"))
      .select("p_id", "s_id")
    val got = EventStream.runToMemory(spark, joined, "stream_ss_join",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("p_id", "s_id").collect().map(_.toSeq).toSeq

    val ev = Registry.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    val sgn = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
        col("event_id").as("s_id"))
    val expected = p.join(sgn,
        col("p_user") === col("s_user") &&
          col("s_ts") <= col("p_ts") &&
          col("s_ts") >= col("p_ts") - expr("interval 1 hour"))
      .select("p_id", "s_id")
      .orderBy("p_id", "s_id").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == expected)
  }

  test("LEFT OUTER stream-stream join: inner part exact, nulls emitted by watermark") {
    import org.apache.spark.sql.functions._
    // purchases left-joined to same-user signups in the preceding hour;
    // unmatched purchases must surface with null s_id — but only once the
    // watermark PROVES no matching signup can still arrive (wm > p_ts).
    val purchases = EventStream.readEvents(spark, eventsPath)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val signups = EventStream.readEvents(spark, eventsPath)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
        col("event_id").as("s_id"))
      .withWatermark("s_ts", "1 hour")
    val joined = purchases.join(signups,
      col("p_user") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("interval 1 hour"),
      "left_outer")
      .select("p_id", "s_id")
    val (table, reportedWm) = EventStream.runToMemoryWithWatermark(spark,
      joined, "stream_ss_left_join",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val got = table.collect()
    val gotInner = got.filter(!_.isNullAt(1)).map(_.toSeq).toSet
    val gotNullIds = got.filter(_.isNullAt(1)).map(_.getLong(0)).toSet

    val ev = Registry.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    val sgn = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
        col("event_id").as("s_id"))
    val cond = col("p_user") === col("s_user") &&
      col("s_ts") <= col("p_ts") &&
      col("s_ts") >= col("p_ts") - expr("interval 1 hour")
    val expInner = p.join(sgn, cond).select("p_id", "s_id")
      .collect().map(_.toSeq).toSet
    assert(gotInner == expInner, "inner part of the left-outer join drifted")
    // a purchase emits its null row only when the watermark passes p_ts
    // (the latest admissible signup is at s_ts = p_ts). The boundary is
    // the watermark the LAST batch actually applied — taken from the
    // query's own lastProgress, NOT re-derived as min(max event time)−1h:
    // whether an extra flush batch runs after the final watermark advance
    // under Trigger.AvailableNow is version-sensitive engine behavior
    val unmatchedFlushable = p.join(sgn, cond, "left_anti")
      .filter(col("p_ts") < timestamp_millis(lit(reportedWm)))
      .select("p_id").collect().map(_.getLong(0)).toSet
    assert(gotNullIds == unmatchedFlushable,
      s"null-row set mismatch: extra=${(gotNullIds -- unmatchedFlushable).take(5)} " +
        s"missing=${(unmatchedFlushable -- gotNullIds).take(5)}")
    assert(gotNullIds.nonEmpty, "test vacuous: no unmatched purchase flushed")
  }

  test("stateful flatMapGroupsWithState sessionization equals batch session_window") {
    import spark.implicits._
    val stream = EventStream.readEvents(spark, eventsPath)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamEvent]
    val sessions = EventStream.sessionize(stream, flushOpenTails = true).toDF()
    val got = EventStream.runToMemory(spark, sessions, "stream_sessions",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("user_id", "session_start_epoch")
      .collect().map(_.toSeq).toSeq
    // batch twin (oracle-checked), values re-expressed in exact cents
    val expected = ops.EventOps.sessionize(spark, sfDir)
      .select(col("user_id"), col("session_start_epoch"), col("n_events"),
        round(col("sum_value") * 100).cast("long").as("sum_value_cents"))
      .orderBy("user_id", "session_start_epoch")
      .collect().map(_.toSeq).toSeq
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("stateful streaming funnel matches the batch funnel stage counts") {
    import spark.implicits._
    val stream = EventStream.readEvents(spark, eventsPath)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamEvent]
    val got = EventStream.runToMemory(spark,
        EventStream.funnelStages(stream).toDF(), "stream_funnel",
        org.apache.spark.sql.streaming.OutputMode.Update())
      // update-mode memory sink may hold one row per user per batch;
      // stages advance monotonically, so the user's final stage is the max
      .groupBy("user_id").agg(max("stage").as("stage"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = ops.PipelineOps.funnelConversion(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.count(_ >= 1) == expected("1_view"))
    assert(got.values.count(_ >= 2) == expected("2_click_after_view"))
    assert(got.values.count(_ >= 3) == expected("3_purchase_after_click"))
    assert(expected("3_purchase_after_click") > 0, "test vacuous")
  }

  // the transformWithState operators require RocksDB; set-and-restore the
  // provider around the body so the suite's other streams keep the default
  private def withRocksDBProvider(body: => Unit): Unit = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally {
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("streaming funnel state advances across time-ordered micro-batches") {
    import spark.implicits._
    // same staging trick as the sessionization split: two time-ordered
    // files, one per micro-batch — funnel stages reached only by
    // combining both batches must still be reached via carried state
    val dir = java.nio.file.Files.createTempDirectory("funnel_two_batches")
    // split on the NORMALIZED read (encoding-agnostic: works whether the
    // driver parquet stores nanos-long or NTZ-micros timestamps)
    val raw = Registry.events(spark, sfDir)
    // split EARLY (Jan 3): the funnel saturates fast, so a mid-corpus
    // split would leave every stage point in batch 0 (vacuous)
    val split = lit("2024-01-03").cast("timestamp")
    raw.filter(col("ts") < split).coalesce(1)
      .write.parquet(s"$dir/batch0")
    raw.filter(col("ts") >= split).coalesce(1)
      .write.parquet(s"$dir/batch1")
    val staged = java.nio.file.Files.createTempDirectory("funnel_staged")
    Seq("batch0", "batch1").zipWithIndex.foreach { case (b, i) =>
      val src = new java.io.File(s"$dir/$b").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$staged/$b.parquet")
      java.nio.file.Files.copy(src.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
    }
    val stream = EventStream.readEvents(spark, staged.toString,
        maxFilesPerTrigger = Some(1))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamEvent]
    val got = EventStream.runToMemory(spark,
        EventStream.funnelStages(stream).toDF(), "stream_funnel_mb",
        org.apache.spark.sql.streaming.OutputMode.Update())
      .groupBy("user_id").agg(max("stage").as("stage"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = ops.PipelineOps.funnelConversion(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.count(_ >= 1) == expected("1_view"))
    assert(got.values.count(_ >= 2) == expected("2_click_after_view"))
    assert(got.values.count(_ >= 3) == expected("3_purchase_after_click"))
    // the split must actually exercise cross-batch advancement: at least
    // one user needs both batches to reach their final stage — verify the
    // first batch ALONE reaches fewer total stage points
    val b0only = Registry.events(spark, sfDir)
      .filter(col("ts") < lit("2024-01-03").cast("timestamp"))
    val b0stages = {
      val e = b0only
      val view = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("v_ts"))
      val click = e.filter(col("event_type") === "click")
        .join(view, "user_id").filter(col("ts") > col("v_ts"))
        .groupBy("user_id").agg(min("ts").as("c_ts"))
      view.count() + click.count()
    }
    val fullStages = expected("1_view") + expected("2_click_after_view")
    assert(b0stages < fullStages,
      "split vacuous: batch 0 alone already reaches every stage point")
  }

  test("stream-static enrichment join matches the batch join") {
    // the standard streaming enrichment: an unbounded event stream joined
    // to a static (batch) dimension — no watermark needed on the static
    // side, the dimension is re-resolvable per micro-batch
    val dim = Registry.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("u_events"))
    val stream = EventStream.readEvents(spark, eventsPath)
      .select("event_id", "user_id")
    val got = EventStream.runToMemory(spark,
        stream.join(dim, Seq("user_id")).select("event_id", "u_events"),
        "stream_static_join",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    val expected = Registry.events(spark, sfDir)
      .select("event_id", "user_id").join(dim, Seq("user_id"))
      .select("event_id", "u_events")
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == expected)
  }

  test("checkpointed streaming report job processes each source file exactly once") {
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("stream_report")
    val srcDir = root.resolve("src"); java.nio.file.Files.createDirectories(srcDir)
    val header =
      "ISIN,Mnemonic,Date,Time,StartPrice,EndPrice,MinPrice,MaxPrice,TradedVolume"
    def stage(date: String, hour: String, rows: String): Unit = {
      val d = srcDir.resolve(date); java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.writeString(
        d.resolve(s"${date}_BINS_XETR$hour.csv"), header + "\n" + rows + "\n")
    }
    val schema = StructType(Seq(
      StructField("ISIN", StringType), StructField("Mnemonic", StringType),
      StructField("Date", StringType), StructField("Time", StringType),
      StructField("StartPrice", DoubleType), StructField("EndPrice", DoubleType),
      StructField("MinPrice", DoubleType), StructField("MaxPrice", DoubleType),
      StructField("TradedVolume", LongType)))
    val src = ops.Report1SourceCols(
      isin = "ISIN", date = "Date", time = "Time", startPrice = "StartPrice",
      minPrice = "MinPrice", maxPrice = "MaxPrice",
      tradedVolume = "TradedVolume",
      columns = Seq("ISIN", "Mnemonic", "Date", "Time", "StartPrice",
        "EndPrice", "MinPrice", "MaxPrice", "TradedVolume"))
    val trg = ops.Report1TargetCols(
      openingPrice = "opening_price_eur", closingPrice = "closing_price_eur",
      minPrice = "minimum_price_eur", maxPrice = "maximum_price_eur",
      dailyTradedVolume = "daily_traded_volume",
      changePrevClosing = "change_prev_closing_pct")
    val job = new EventStream.Report1StreamJob(spark,
      s"$srcDir/*", root.resolve("out").toString,
      root.resolve("chk").toString, schema, src, trg)

    // first arrival: two days
    stage("2021-04-15", "12", "AT1,SANT,2021-04-15,12:00,20.19,18.45,18.20,20.33,877")
    stage("2021-04-16", "15", "AT1,SANT,2021-04-16,15:00,18.27,21.19,18.27,21.34,987")
    job.runOnce()
    val after1 = spark.read.parquet(root.resolve("out").toString)
    assert(after1.count() == 2)

    // second arrival: one more day — ONLY it may be processed (the
    // checkpoint, not a meta file, carries the progress)
    stage("2021-04-17", "13", "AT1,SANT,2021-04-17,13:00,20.21,18.27,18.21,20.42,633")
    job.runOnce()
    val after2 = spark.read.parquet(root.resolve("out").toString)
      .orderBy("Date").collect()
    assert(after2.length == 3, "old files must not be reprocessed")
    assert(after2.map(_.getAs[String]("Date")).toSeq ==
      Seq("2021-04-15", "2021-04-16", "2021-04-17"))
    // cross-batch lag boundary: the new batch's first date has no previous
    // day in its batch — null pct change (documented; = reference cold start)
    assert(after2.last.isNullAt(after2.last.fieldIndex("change_prev_closing_pct")))
    // within-batch lag works: day 2 references day 1's opening price
    assert(!after2(1).isNullAt(after2(1).fieldIndex("change_prev_closing_pct")))
  }

  /** A [[EventStream.Report1StreamJob]] over a fresh landing directory,
    * with `stage(date, hour)` landing that hour's file (one AT1 bar) and
    * the job's parquet output directory.
    */
  private def reportStream(name: String)
      : ((String, Int) => Unit, EventStream.Report1StreamJob, String) = {
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory(name)
    val srcDir = root.resolve("src")
    val header =
      "ISIN,Mnemonic,Date,Time,StartPrice,EndPrice,MinPrice,MaxPrice,TradedVolume"
    def stage(date: String, hour: Int): Unit = {
      val d = srcDir.resolve(date); java.nio.file.Files.createDirectories(d)
      val hh = f"$hour%02d"
      java.nio.file.Files.writeString(d.resolve(s"${date}_BINS_XETR$hh.csv"),
        s"$header\nAT1,SANT,$date,$hh:00,${20 + hour},20.0,19.0,${21 + hour},100\n")
    }
    val cols = Seq("ISIN", "Mnemonic", "Date", "Time", "StartPrice",
      "EndPrice", "MinPrice", "MaxPrice", "TradedVolume")
    val schema = StructType(cols.map {
      case c @ ("ISIN" | "Mnemonic" | "Date" | "Time") => StructField(c, StringType)
      case c @ "TradedVolume" => StructField(c, LongType)
      case c => StructField(c, DoubleType)
    })
    val out = root.resolve("out").toString
    val job = new EventStream.Report1StreamJob(spark,
      s"$srcDir/*", out, root.resolve("chk").toString, schema,
      ops.Report1SourceCols(columns = cols),
      ops.Report1TargetCols(changePrevClosing = "change_prev_closing_pct"))
    (stage, job, out)
  }

  test("a restarted report stream lists its last batch in one task per core at most") {
    val (stage, job, outDir) = reportStream("stream_relist")

    // first micro-batch: 2 days x 20 hourly files, above Spark's 32-path
    // threshold for listing in a Spark job
    for (date <- Seq("2021-04-15", "2021-04-16"); h <- 0 until 20) stage(date, h)
    job.runOnce()
    stage("2021-04-19", 7)
    // the restart asks the source for the committed first batch again,
    // which lists its 40 files once more
    val tasks = sparkJobTasksStartedBy(job.runOnce())
    val cores = spark.sparkContext.defaultParallelism
    assert(tasks.nonEmpty && tasks.forall(_ <= cores),
      s"per-job tasks $tasks, cores $cores")
    val out = spark.read.parquet(outDir).orderBy("Date").collect()
    assert(out.map(_.getAs[String]("Date")).toSeq ==
      Seq("2021-04-15", "2021-04-16", "2021-04-19"))
  }

  test("later report stream runs reuse the first run's compiled code") {
    val (stage, job, outDir) = reportStream("stream_codegen")

    for (date <- Seq("2021-04-15", "2021-04-16"); h <- Seq(9, 10)) stage(date, h)
    job.runOnce()
    // each run clones the session; the clone's tasks must find the code the
    // previous run compiled, not compile it again for a loader of their own
    stage("2021-04-19", 9)
    val second = codegenCompilesBy(job.runOnce())
    stage("2021-04-20", 9)
    val third = codegenCompilesBy(job.runOnce())
    assert(second == 0 && third == 0,
      s"classes compiled: second run $second, third run $third")
    val out = spark.read.parquet(outDir).orderBy("Date").collect()
    assert(out.map(_.getAs[String]("Date")).toSeq ==
      Seq("2021-04-15", "2021-04-16", "2021-04-19", "2021-04-20"))
  }

  test("streaming dedup drops replayed events across micro-batches") {
    // stage the SAME events file twice (an at-least-once redelivery) and
    // force two micro-batches: the second copy must be fully dropped by
    // cross-batch dedup state, leaving exactly the batch-distinct rows
    val staged = java.nio.file.Files.createTempDirectory("events_replayed")
    Seq("a", "b").zipWithIndex.foreach { case (n, i) =>
      val dst = new java.io.File(s"$staged/$n.parquet")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/events.parquet"), dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
    }
    val stream = EventStream.readEvents(spark, staged.toString,
      maxFilesPerTrigger = Some(1))
    val got = EventStream.runToMemory(spark,
        EventStream.dedupById(stream).select("event_id"), "stream_dedup",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("event_id").collect().map(_.getLong(0)).toSeq
    val expected = Registry.events(spark, sfDir)
      .select("event_id").distinct()
      .orderBy("event_id").collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty && got == expected)
  }

  test("streaming latest-snapshot upsert equals the batch last-per-key") {
    val stream = EventStream.readEvents(spark, eventsPath)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamEvent](org.apache.spark.sql.Encoders.product[StreamEvent])
    val got = EventStream.runToMemory(spark,
        EventStream.latestSnapshot(stream).toDF(), "latest_snap",
        org.apache.spark.sql.streaming.OutputMode.Update())
      .groupBy("user_id")
      .agg(max(struct(col("n_seen"), col("ts_micros"), col("event_id"),
        col("value_cents"))).as("s"))
      .select(col("user_id"), col("s.ts_micros"), col("s.event_id"),
        col("s.value_cents"), col("s.n_seen"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val expected = Registry.events(spark, sfDir)
      .groupBy("user_id")
      .agg(max(struct(unix_micros(col("ts")).as("tm"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))).as("s"),
        count(lit(1)).as("n"))
      .select(col("user_id"), col("s.tm"), col("s.event_id"),
        col("s.cents"), col("n"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got.nonEmpty && got == expected)
  }

  test("streaming priority sample equals the batch (oracle-checked) top-k") {
    // bounded per-shard top-k state + union-and-merge at read must equal
    // sample_priority_events exactly; the stream projects through the batch
    // queries' own withPriorityKey columns, so this certifies the sharded
    // top-k MERGE (the only stream-side logic), not a re-derivation
    withRocksDBProvider {
      import org.apache.spark.sql.expressions.Window
      val stream = EventStream.readEvents(spark, eventsPath)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[StreamEvent](org.apache.spark.sql.Encoders.product[StreamEvent])
      val emissions = EventStream.runToMemory(spark,
        EventStream.prioritySampleTws(stream).toDF(), "prio_tws",
        org.apache.spark.sql.streaming.OutputMode.Update())
      val got = emissions
        // latest emission per shard = max n_seen (monotone per batch)
        .withColumn("rn", row_number().over(
          Window.partitionBy("shard").orderBy(col("n_seen").desc)))
        .filter(col("rn") === 1)
        .select(explode(col("entries")).as("e"))
        .select(col("e.event_id"), col("e.w_cents"), col("e.priority_key"))
        .orderBy(col("priority_key").desc, col("event_id").asc)
        .limit(200)
        .collect().map(_.toSeq).toSeq
      val expected = ops.SamplingOps.priorityEvents(spark, sfDir)
        .select("event_id", "w_cents", "priority_key")
        .collect().map(_.toSeq).toSeq
      assert(got.nonEmpty && got == expected,
        "sharded streaming top-k diverged from the batch priority sample")
    }
  }

  test("streaming CMS shard sketches merge to the batch sketch byte-identically") {
    // the mergeability contract of stats_cms_heavyhitters, streamed: 8
    // shards each fold their slice into bounded state, and because CMS
    // union is exact counter addition the merged shard sketches must be
    // BYTE-identical to one sketch built over the whole batch — whatever
    // the micro-batch/shard split was
    withRocksDBProvider {
      import org.apache.spark.sql.expressions.Window
      val stream = EventStream.readEvents(spark, eventsPath)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[StreamEvent](org.apache.spark.sql.Encoders.product[StreamEvent])
      val latest = EventStream.runToMemory(spark,
          EventStream.cmsSketchTws(stream).toDF(), "cms_tws",
          org.apache.spark.sql.streaming.OutputMode.Update())
        .withColumn("rn", row_number().over(
          Window.partitionBy("shard").orderBy(col("n_seen").desc)))
        .filter(col("rn") === 1)
        .select("shard", "n_seen", "sketch")
        .collect()
      val merged = functions.CmsDims.empty()
      latest.foreach(r => merged.mergeInPlace(
        functions.CmsDims.fromBytes(r.getAs[Array[Byte]]("sketch"))))
      // batch twin: fold the SAME rows' (event_type, count) into one global
      // sketch — CMS counters are order-free sums, so any fold order works
      val counts = Registry.events(spark, sfDir)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val global = functions.CmsDims.empty()
      counts.foreach { case (t, n) => global.addString(t, n) }
      assert(latest.map(_.getLong(1)).sum == counts.map(_._2).sum,
        "stream saw a different row count than the batch")
      assert(java.util.Arrays.equals(
        functions.CmsDims.toBytes(merged), functions.CmsDims.toBytes(global)),
        "merged shard sketches != batch-built global sketch bytes")
      counts.foreach { case (t, _) =>
        assert(merged.estimateCount(t) == global.estimateCount(t)) }
    }
  }

  test("streaming HLL shard registers merge to the batch registers byte-identically") {
    // the distinct-count sibling of the CMS byte law: register-wise max
    // union is commutative, associative AND idempotent, so the merged
    // final shard registers must be byte-identical to one register array
    // folded over the whole batch — whatever the micro-batch/shard split
    withRocksDBProvider {
      import org.apache.spark.sql.expressions.Window
      val stream = EventStream.readEvents(spark, eventsPath)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[StreamEvent](org.apache.spark.sql.Encoders.product[StreamEvent])
      val latest = EventStream.runToMemory(spark,
          EventStream.hllSketchTws(stream).toDF(), "hll_tws",
          org.apache.spark.sql.streaming.OutputMode.Update())
        .withColumn("rn", row_number().over(
          Window.partitionBy("shard").orderBy(col("n_seen").desc)))
        .filter(col("rn") === 1)
        .select("shard", "n_seen", "registers")
        .collect()
      val merged = latest.map(_.getAs[Array[Byte]]("registers"))
        .foldLeft(functions.HllRegisters.empty())(functions.HllRegisters.merge)
      // batch twin: fold the SAME rows' user_ids into one register array —
      // max registers are order-free AND duplicate-insensitive, so any
      // fold order (and the per-row vs per-distinct feed) gives one form
      val userRows = Registry.events(spark, sfDir)
        .select("user_id").collect().map(_.getLong(0))
      val global = functions.HllRegisters.empty()
      userRows.foreach(functions.HllRegisters.add(global, _))
      assert(latest.map(_.getLong(1)).sum == userRows.length.toLong,
        "stream saw a different row count than the batch")
      assert(java.util.Arrays.equals(merged, global),
        "merged shard registers != batch-built global registers")
      // idempotence corollary: re-merging a shard in changes nothing
      assert(java.util.Arrays.equals(
        functions.HllRegisters.merge(merged,
          latest.head.getAs[Array[Byte]]("registers")), merged))
      // the estimate is honest: within the 3-sigma band of 1.04/sqrt(m)
      val exact = userRows.toSet.size.toDouble
      val est = functions.HllRegisters.estimate(merged)
      val bound = 3 * 1.04 / math.sqrt(functions.HllRegisters.M) * exact
      assert(math.abs(est - exact) <= math.max(bound, 1.0),
        s"HLL estimate $est outside 3-sigma band of exact $exact")
    }
  }

  test("latest-snapshot upsert survives a full replay unchanged (monotone merge)") {
    // stage the same file twice as two micro-batches: the at-least-once
    // redelivery must change NOTHING in the snapshot except n_seen, which
    // doubles — the MERGE rule is monotone in (ts, event_id)
    val staged = java.nio.file.Files.createTempDirectory("events_upsert_replay")
    Seq("a", "b").zipWithIndex.foreach { case (n, i) =>
      val dst = new java.io.File(s"$staged/$n.parquet")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/events.parquet"), dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
    }
    val stream = EventStream.readEvents(spark, staged.toString,
        maxFilesPerTrigger = Some(1))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamEvent](org.apache.spark.sql.Encoders.product[StreamEvent])
    val sink = EventStream.runToMemory(spark,
      EventStream.latestSnapshot(stream).toDF(), "latest_snap_replay",
      org.apache.spark.sql.streaming.OutputMode.Update())
    // final state per key = the emission with the highest n_seen
    val finalRows = sink.groupBy("user_id")
      .agg(max(struct(col("n_seen"), col("ts_micros"), col("event_id"),
        col("value_cents"))).as("s"))
      .select(col("user_id"), col("s.ts_micros"), col("s.event_id"),
        col("s.value_cents"), col("s.n_seen"))
      .orderBy("user_id").collect()
    val batchTruth = Registry.events(spark, sfDir)
      .groupBy("user_id")
      .agg(max(struct(unix_micros(col("ts")).as("tm"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))).as("s"),
        count(lit(1)).as("n"))
      .select(col("user_id"), col("s.tm"), col("s.event_id"), col("s.cents"),
        col("n"))
      .orderBy("user_id").collect()
    assert(finalRows.length == batchTruth.length)
    finalRows.zip(batchTruth).foreach { case (g, e) =>
      assert(g.getLong(0) == e.getLong(0))
      assert(g.getLong(1) == e.getLong(1), s"replay moved ts for ${g.getLong(0)}")
      assert(g.getLong(2) == e.getLong(2), s"replay moved event for ${g.getLong(0)}")
      assert(g.getLong(3) == e.getLong(3), s"replay moved value for ${g.getLong(0)}")
      assert(g.getLong(4) == 2 * e.getLong(4),
        s"n_seen must count both deliveries for ${g.getLong(0)}")
    }
  }

  test("sessionization state carries open tails across micro-batches (no fragments)") {
    import spark.implicits._
    // stage the events into TWO time-split files and force one file per
    // micro-batch: any session spanning the split must be emitted exactly
    // once (merged via state), not as duplicate fragments per batch
    val dir = java.nio.file.Files.createTempDirectory("events_two_batches")
    val raw = Registry.events(spark, sfDir) // ts normalized, encoding-agnostic
    val split = lit("2024-01-16").cast("timestamp")
    raw.filter(col("ts") < split).coalesce(1)
      .write.parquet(s"$dir/batch0")
    raw.filter(col("ts") >= split).coalesce(1)
      .write.parquet(s"$dir/batch1")
    val staged = java.nio.file.Files.createTempDirectory("events_staged")
    Seq("batch0", "batch1").zipWithIndex.foreach { case (b, i) =>
      val src = new java.io.File(s"$dir/$b").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$staged/$b.parquet")
      java.nio.file.Files.copy(src.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1)) // deterministic batch order
    }

    val stream = EventStream.readEvents(spark, staged.toString,
        maxFilesPerTrigger = Some(1))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamEvent]
    val got = EventStream.runToMemory(spark,
        EventStream.sessionize(stream, flushOpenTails = false).toDF(),
        "stream_sessions_mb",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("user_id", "session_start_epoch")
      .collect().map(_.toSeq).toSeq

    // expected: every batch session EXCEPT each user's final (still-open)
    // one — those stay in state awaiting a closing event
    val all = ops.EventOps.sessionize(spark, sfDir)
      .select(col("user_id"), col("session_start_epoch"), col("n_events"),
        round(col("sum_value") * 100).cast("long").as("sum_value_cents"))
    val expected = all
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("session_start_epoch").desc)))
      .filter(col("rn") > 1).drop("rn")
      .orderBy("user_id", "session_start_epoch")
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == expected)
  }

  test("a session STRADDLING the micro-batch boundary is merged, not fragmented") {
    import spark.implicits._
    // handcrafted evidence for the open-tail carry: user 7's session has
    // events on BOTH sides of the file split, within the 30-min gap. With
    // flushOpenTails=false the tail from batch 0 must merge with batch 1's
    // events and surface exactly once — closed by the far-future event.
    def ev(id: Long, minutes: Long, user: Long): (Long, Long, Long, String, Double) =
      (id, (1700000000L + minutes * 60) * 1000000000L, user, "click", 1.0)
    val batch0 = Seq(ev(1, 0, 7), ev(2, 10, 7), // open tail at file end
      ev(10, 0, 8), ev(11, 200, 8)) // user 8: closed + new tail in batch 0
    val batch1 = Seq(ev(3, 20, 7), ev(4, 25, 7), // continue user 7's session
      ev(5, 2000, 7)) // > gap later: closes it (stays open itself)
    val staged = java.nio.file.Files.createTempDirectory("events_straddle")
    Seq(batch0, batch1).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", lit("{}"))
        .coalesce(1).write.parquet(s"$staged/b$i")
      val f = new java.io.File(s"$staged/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$staged/b$i.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
      // leftover b$i dirs don't match the *.parquet glob below
    }
    val stream = Registry.normalizeEventTs(spark.readStream
        .schema(EventStream.eventsNanosSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$staged/*.parquet"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamEvent]
    val got = EventStream.runToMemory(spark,
        EventStream.sessionize(stream, flushOpenTails = false).toDF(),
        "stream_straddle",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("user_id", "session_start_epoch")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // user 7: ONE 4-event session (events 1,2 from batch 0 + 3,4 from
    // batch 1, merged via carried state), emitted once; event 5 stays open.
    // user 8: the 1-event session closed inside batch 0; event 11 stays open.
    assert(got == Seq(
      (7L, 1700000000L, 4L),
      (8L, 1700000000L, 1L)))
  }

  test("event-time timeout flushes an idle user's open tail via the watermark") {
    import spark.implicits._
    // user 7 goes idle after 2 events; NO later event of theirs ever
    // arrives. The flush must come from the WATERMARK passing
    // last-event+gap (armed as an event-time timeout), advanced by other
    // users' events in later micro-batches: batch 1 moves the watermark
    // computation input, batch 2 runs with that advanced watermark and
    // fires the timeout.
    def ev(id: Long, minutes: Long, user: Long): (Long, Long, Long, String, Double) =
      (id, (1700000000L + minutes * 60) * 1000000000L, user, "click", 2.5)
    val batches = Seq(
      Seq(ev(1, 0, 7), ev(2, 10, 7)), // user 7's tail; timeout arms at 40min
      Seq(ev(20, 600, 8)), // 10h: watermark input jumps far past 40min
      Seq(ev(21, 610, 9))) // runs WITH the advanced watermark → flush fires
    val staged = java.nio.file.Files.createTempDirectory("events_timeout")
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", lit("{}"))
        .coalesce(1).write.parquet(s"$staged/b$i")
      val f = new java.io.File(s"$staged/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$staged/b$i.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
    }
    val stream = Registry.normalizeEventTs(spark.readStream
        .schema(EventStream.eventsNanosSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$staged/*.parquet"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamEvent]
    val got = EventStream.runToMemory(spark,
        EventStream.sessionizeWithTimeout(stream).toDF(),
        "stream_timeout_flush",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // ONLY user 7 flushes (2 events, 250 cents each); users 8/9 stay open
    // because the watermark never passes their last-event+gap
    assert(got == Seq((7L, 1700000000L, 2L, 500L)))
  }

  test("watermark-gated sessionize merges an above-watermark out-of-order event") {
    import spark.implicits._
    // The cross-batch disorder case observed-gap emission gets WRONG:
    // batch 0 delivers user 7 at minutes 0, 10, 50 (observed gap 40 min
    // between 10 and 50 — an observed-gap sessionizer would emit [0,10]
    // right here), then batch 1 delivers minute 25 — ABOVE the watermark
    // (20 min after batch 0), and inside both gaps, welding all four
    // events into ONE session. sessionizeWithTimeout must buffer until
    // the watermark PROVES closure and emit the single 4-event session;
    // the flush fires once later batches push the watermark past
    // minute 50 + gap.
    def ev(id: Long, minutes: Long, user: Long): (Long, Long, Long, String, Double) =
      (id, (1700000000L + minutes * 60) * 1000000000L, user, "click", 2.5)
    val batches = Seq(
      Seq(ev(1, 0, 7), ev(2, 10, 7), ev(3, 50, 7)),
      Seq(ev(4, 25, 7)), // out-of-order, above the 20-min watermark
      Seq(ev(20, 600, 8)), // advance the watermark input far past 80 min
      Seq(ev(21, 610, 9))) // runs WITH the advanced watermark → flush
    val staged = java.nio.file.Files.createTempDirectory("events_ooo")
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", lit("{}"))
        .coalesce(1).write.parquet(s"$staged/b$i")
      val f = new java.io.File(s"$staged/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$staged/b$i.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
    }
    val stream = Registry.normalizeEventTs(spark.readStream
        .schema(EventStream.eventsNanosSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$staged/*.parquet"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamEvent]
    val got = EventStream.runToMemory(spark,
        EventStream.sessionizeWithTimeout(stream).toDF(),
        "stream_ooo_sessions",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // ONE session: all four of user 7's events (250 cents each); users
    // 8/9 stay open (watermark never passes their proof points)
    assert(got == Seq((7L, 1700000000L, 4L, 1000L)))
  }

  test("session gap and funnel sequencing resolve at microsecond precision") {
    import spark.implicits._
    // (a) a gap of exactly 30:00 plus 500 µs must SPLIT (the batch
    // session_window splits at micros; an ms-truncated gap test would
    // merge); (b) a view→click pair 300 µs apart INSIDE one millisecond
    // must still advance the funnel (the batch funnel sequences at full
    // precision).
    val base = 1700000000L * 1000000000L
    val rows = Seq(
      (1L, base, 7L, "click", 1.0),
      (2L, base + 30L * 60 * 1000000000L + 500000L, 7L, "click", 1.0),
      (3L, base, 9L, "view", 1.0),
      (4L, base + 300000L, 9L, "click", 1.0))
    val staged = java.nio.file.Files.createTempDirectory("events_micros")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .coalesce(1).write.parquet(s"$staged/b0")
    val stream = Registry.normalizeEventTs(spark.readStream
        .schema(EventStream.eventsNanosSchema)
        .parquet(s"$staged/b0"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamEvent]
    val sessions = EventStream.runToMemory(spark,
        EventStream.sessionize(stream, flushOpenTails = true).toDF(),
        "stream_micros_sessions",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .filter(col("user_id") === 7).collect()
    assert(sessions.length == 2,
      s"30:00.0005 gap must split at micros precision, got ${sessions.length}")
    val stream2 = Registry.normalizeEventTs(spark.readStream
        .schema(EventStream.eventsNanosSchema)
        .parquet(s"$staged/b0"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamEvent]
    val funnel = EventStream.runToMemory(spark,
        EventStream.funnelStages(stream2).toDF(), "stream_micros_funnel",
        org.apache.spark.sql.streaming.OutputMode.Update())
      .filter(col("user_id") === 9).collect()
    assert(funnel.map(_.getInt(1)).toSeq == Seq(2),
      "same-millisecond view→click must advance the funnel at micros")
  }

  test("streaming simhash near-dup equals batch pairs across micro-batches + replay") {
    // stream the documents in two halves (one per micro-batch), plus the
    // first half REPLAYED as a third file: the pair set must equal the
    // batch operator's exactly — split-spanning pairs emitted when the
    // second member arrives, replay emitting nothing (state membership)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val staged = java.nio.file.Files.createTempDirectory("docs_stream")
    Seq(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0)).zipWithIndex.foreach {
      case (half, i) =>
        half.coalesce(1).write.parquet(s"$staged/b$i")
        val f = new java.io.File(s"$staged/b$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$staged/b$i.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(1000000L * (i + 1))
    }
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$staged/*.parquet")
    val got = EventStream.runToMemory(spark,
        graft.streaming.DocStream.nearDupPairs(stream).toDF(),
        "stream_simhash_pairs",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = ops.Dedup.simhashPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty, "no near-dup pairs in the stream — vacuous parity")
    // exact multiset equality: same pairs, each exactly once
    assert(got.sorted == expected.sorted)
  }

  test("streaming incremental minhash probe equals the batch twin across micro-batches") {
    // the daily-ingest dedup as a stream: the md5 new-batch split arrives
    // over two micro-batches and probes the immutable corpus index; the
    // union of per-batch probe results must equal dedup_incremental_minhash
    // exactly (pairs AND jaccard values — the probe is the batch pipeline
    // by construction, so the doubles are bit-identical)
    val newDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .filter(ops.SamplingOps.bucket10(col("doc_id")) < 2)
    val staged = java.nio.file.Files.createTempDirectory("docs_probe_stream")
    Seq(newDocs.filter(col("doc_id") % 2 === 0),
        newDocs.filter(col("doc_id") % 2 === 1)).zipWithIndex.foreach {
      case (half, i) =>
        half.coalesce(1).write.parquet(s"$staged/b$i")
        val f = new java.io.File(s"$staged/b$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$staged/b$i.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(1000000L * (i + 1))
    }
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$staged/*.parquet")
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = graft.streaming.DocStream
      .incrementalMinhashProbe(spark, sfDir, stream) { (out, id) =>
        buf.synchronized {
          buf ++= out.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getDouble(2)))
          ids += id
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("probe_ckpt").toString)
      .start()
    q.awaitTermination()
    assert(ids.distinct.size >= 2, "expected one probe per micro-batch")
    val expected = ops.Dedup.incrementalMinhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(buf.nonEmpty, "no probe hits in the stream — vacuous parity")
    assert(buf.sorted.toSeq == expected.sorted)
  }

  test("streaming survivor-collapse probe equals the batch member map") {
    // the dedup-first ingestion discipline as a stream: the whole corpus
    // replays over two micro-batches and probes the memoized survivor
    // base; the union of per-batch memberships must equal the batch
    // Similarity.memberMap exactly (same base object -> the survivor kNN
    // graph ann_knn_join_dedup builds over it can never disagree). A
    // third batch of NOVEL vectors (absent from the base, duplicated
    // within the batch) exercises the base-miss path: within-batch
    // min-id collapse with the batch twin's survivor rule.
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val novel = corpus.filter(col("vec_id") === 0)
      .select(explode(array(lit(9000001L), lit(9000002L))).as("vec_id"),
        transform(col("embedding"), x => x * -1.0f - 17.5f).as("embedding"))
    val staged = java.nio.file.Files.createTempDirectory("vec_probe_stream")
    Seq(corpus.filter(col("vec_id") % 2 === 0),
        corpus.filter(col("vec_id") % 2 === 1),
        novel).zipWithIndex.foreach { case (part, i) =>
      part.coalesce(1).write.parquet(s"$staged/b$i")
      val f = new java.io.File(s"$staged/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$staged/b$i.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
    }
    val stream = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$staged/*.parquet")
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Boolean)]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = graft.streaming.VecStream
      .survivorProbe(spark, sfDir, stream) { (out, id) =>
        buf.synchronized {
          buf ++= out.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
          ids += id
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("vec_probe_ckpt").toString)
      .start()
    q.awaitTermination()
    assert(ids.distinct.size >= 3, "expected one probe per micro-batch")
    val (known, unknown) = buf.partition(_._4)
    val expected = ops.Similarity.memberMap(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(known.nonEmpty, "no known memberships — vacuous parity")
    assert(known.map(t => (t._1, t._2, t._3)).sorted.toSeq == expected.sorted,
      "streamed memberships must equal the batch member map exactly")
    // the novel pair collapsed within its batch: first arrival survives
    assert(unknown.map(t => (t._1, t._2, t._3)).sorted.toSeq ==
      Seq((9000001L, 9000001L, 2L), (9000002L, 9000001L, 2L)),
      s"unexpected base-miss collapse: ${unknown.sorted}")
  }

  test("sessionization state survives a QUERY RESTART from the checkpoint") {
    import spark.implicits._
    // harder than cross-batch: the first query processes batch 0 and
    // STOPS; a brand-new query (new state store instances) resumes from
    // the checkpoint, processes batch 1, and must merge user 7's carried
    // tail — proving open tails live in the checkpointed state store, not
    // in executor memory
    def ev(id: Long, minutes: Long, user: Long): (Long, Long, Long, String, Double) =
      (id, (1700000000L + minutes * 60) * 1000000000L, user, "click", 1.0)
    val srcDir = java.nio.file.Files.createTempDirectory("events_restart_src")
    val ckpt = java.nio.file.Files.createTempDirectory("events_restart_ckpt")
    val sink = java.nio.file.Files.createTempDirectory("events_restart_sink")
    def stage(rows: Seq[(Long, Long, Long, String, Double)], name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("stage").resolve("d")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", lit("{}")).coalesce(1).write.parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, srcDir.resolve(name))
    }
    def runOnce(): Unit = {
      val stream = Registry.normalizeEventTs(spark.readStream
          .schema(EventStream.eventsNanosSchema)
          .parquet(s"$srcDir/*.parquet"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[StreamEvent]
      val q = EventStream.sessionize(stream, flushOpenTails = false).toDF()
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    stage(Seq(ev(1, 0, 7), ev(2, 10, 7)), "b0.parquet") // open tail only
    runOnce() // first query: nothing closable, tail goes to the state store
    stage(Seq(ev(3, 20, 7), ev(4, 2000, 7)), "b1.parquet") // continue + close
    runOnce() // NEW query, resumed from checkpoint
    val got = spark.read.parquet(sink.toString)
      .orderBy("user_id", "session_start_epoch")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // one merged 3-event session (1,2 from run 1 + 3 from run 2); event 4
    // opened a new tail that stays in state
    assert(got == Seq((7L, 1700000000L, 3L)))
  }

  test("derived non-equi bound fires inside a micro-batch plan (rule is session-global)") {
    // q4's shape as a stream-static join: static dim carries ts >= c, the
    // join condition is stream.ts > dim.o_ts — DeriveNonEquiJoinBounds
    // must plant ts > c on the STREAM side of the micro-batch's optimized
    // plan. The rules are registered via session extensions, so the
    // incremental planner inherits them; this pins that as a law.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    // parquet round-trip: an in-memory dim folds to a LocalRelation (filter
    // and all) before the rule reads constraints — prod dims are files
    val dimPath = java.nio.file.Files.createTempDirectory("derived_dim").toString
    Seq(
      (10L, java.sql.Timestamp.valueOf("2022-01-02 00:00:00")),
      (11L, java.sql.Timestamp.valueOf("2022-01-03 00:00:00")))
      .toDF("dim_id", "o_ts")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
      .filter($"o_ts" >= java.sql.Timestamp.valueOf("2022-01-02 00:00:00"))
    val stream = EventStream.readEvents(spark, eventsPath)
      .join(dim, col("ts") > col("o_ts"))
      .groupBy("dim_id").agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory")
      .queryName("derived_bound_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val plan = q.asInstanceOf[StreamingQueryWrapper]
      .streamingQuery.lastExecution.optimizedPlan.toString
    // pushdown substitutes the stream's ts projection into the derived
    // bound, so match the STRICT comparison against the literal (the dim's
    // own filter is the non-strict >=, which cannot match this)
    assert(plan.contains(" > 2022-01-02 00:00:00"),
      s"derived non-equi bound missing from the micro-batch plan:\n${plan.take(3000)}")
  }

  test("derived disjunctive envelope fires inside a micro-batch plan") {
    // q19's envelope shape on a streaming Filter: every Or branch bounds
    // `value` below, so the micro-batch plan must carry the derived
    // value >= min(lows) conjunct (visible even after pushdown).
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val stream = EventStream.readEvents(spark, eventsPath)
      .filter((col("event_type") === "click" && col("value") >= 10.0 && col("value") <= 50.0) ||
        (col("event_type") === "view" && col("value") >= 20.0 && col("value") <= 90.0))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory")
      .queryName("derived_envelope_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val plan = q.asInstanceOf[StreamingQueryWrapper]
      .streamingQuery.lastExecution.optimizedPlan.toString
    assert(plan.contains(">= 10.0") && plan.contains("<= 90.0"),
      s"derived envelope missing from the micro-batch plan:\n${plan.take(3000)}")
    assert(plan.contains("In(event_type") || plan.contains("event_type#")
      , "sanity: filter survived into the plan")
  }
}
