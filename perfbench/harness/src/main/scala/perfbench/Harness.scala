package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.{Clock, LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{GraftSession, Registry}
import graft.config.{JobConfig, MetaConfig, SourceConfig, TargetConfig}
import graft.io.Connector
import graft.jobs.Report1Job
import graft.meta.MetaStore
import graft.ops.{Report1, Report1SourceCols, Report1TargetCols}
import graft.streaming.EventStream.Report1StreamJob
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** One benchmark run in one JVM: a closed loop with one client.
  *
  * Two stages, each iterated on fresh state:
  *  - etl: a cold backfill of all dates but the last [[DailyRuns]] (the
  *    batch job, then the stream job from an empty checkpoint); then each
  *    remaining date lands and both jobs run once.
  *  - mix: the query mix memo-cold in a fresh session, then memo-warm in
  *    the same session.
  * Both start with a JIT warm-up of the workload's stage. An untraced run
  * then iterates that stage until `seconds` have passed, at least once. A
  * traced run traces one iteration of the stage, with listeners, the
  * counting file system and spans, between two untraced ones that are the
  * reference for the tracing overhead, and then one of the other stage.
  * Outputs are written for the checks that run after the JVM ends.
  */
object Harness {

  /** Session builds timed for set-up; the median is reported. */
  val Setups = 7
  /** Dates that land one per daily run after the backfill. */
  val DailyRuns = 4

  final case class Opts(data: Path, work: Path, out: Path, seconds: Double,
      traced: Boolean, stage: String, mix: Seq[String])

  private val Src = Report1SourceCols()
  private val Trg = Report1TargetCols()
  private val Schema = StructType(Src.columns.map {
    case n @ ("StartPrice" | "EndPrice" | "MinPrice" | "MaxPrice") =>
      StructField(n, DoubleType)
    case n @ "TradedVolume" => StructField(n, LongType)
    case n => StructField(n, StringType)
  })

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(Paths.get(m("data")), Paths.get(m("work")), Paths.get(m("out")),
      m("seconds").toDouble, m("trace") == "1", m("stage"),
      Files.readAllLines(Paths.get(m("mix"))).asScala.map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq)
  }

  def build(traced: Boolean): SparkSession = {
    val b = GraftSession.builder("local[4]", 4)
      .config("spark.ui.enabled", "false")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    b.getOrCreate()
  }

  private val jvm0 = System.nanoTime()

  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] phase $name%-34s at ${secs(jvm0)}%7.1f s")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)

    // set-up: a fresh session, ready to answer, several times
    val setup = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = build(o.traced)
      spark.sql("SELECT 1").collect()
      setup += secs(t0)
    }
    phase("setup done")
    val run = new Run(spark, o)
    val (warmup, stage, other): (Int => Unit, Int => Unit, Int => Unit) =
      if (o.stage == "etl") (run.etlWarmup, run.etlIteration, run.mixIteration)
      else (run.mixWarmup, run.mixIteration, run.etlIteration)
    // JIT warm-up of the timed stage. A traced run warms up twice, so that
    // the untraced iterations it compares the traced one with run on a
    // steady JIT; the other stage is traced without a warm-up, so its layer
    // figures include first-run costs.
    for (i <- 0 until (if (o.traced) 2 else 1)) warmup(i)
    phase("warm-up done")
    val loop0 = System.nanoTime()
    if (o.traced) {
      // untraced iterations before and after the traced one, so that JIT
      // warming during the run cancels out of the tracing overhead; the
      // other stage is traced last, so that it does not warm the JIT
      // between them
      stage(0)
      run.tracing(stage(1))
      stage(2)
      run.tracing { other(3); run.execLayers() }
    } else {
      stage(0)
      var i = 1
      while (secs(loop0) < o.seconds) { stage(i); i += 1 }
    }
    val loopS = secs(loop0)
    phase("loop done")
    Files.writeString(o.out, run.resultJson(setup.toSeq, loopS))
    if (o.traced) Files.writeString(o.out.resolveSibling("spans.json"), run.tracer.json)
    spark.stop()
  }

  /** Minimal JSON rendering of maps, sequences, strings and numbers. */
  def toJson(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => toJson(k.toString) + ":" + toJson(x) }.mkString("{", ",", "}")
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case xs: Iterable[_] => xs.map(toJson).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case null => "null"
    case other => toJson(other.toString)
  }

  final class Run(spark: SparkSession, o: Opts) {
    val tracer = new Tracer
    private val probes = new Probes(spark, o.traced)
    private val tables = o.data.resolve("tables").toString
    private val xetra = o.data.resolve("xetra")
    private val dates: Seq[String] =
      Files.list(xetra).iterator.asScala.map(_.getFileName.toString).toSeq.sorted
    private val backfillDays = dates.size - DailyRuns

    // end-to-end samples, split by whether the iteration was traced
    private val samples = mutable.Map.empty[(Boolean, String), ArrayBuffer[Double]]
    // per-layer values, one per traced iteration
    private val layers = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    private val iterations = ArrayBuffer.empty[Map[String, Any]]
    private val errors = ArrayBuffer.empty[String]
    private var attempted = 0
    private var traced = false

    private def sample(name: String, v: Double): Unit =
      samples.getOrElseUpdate((traced, name), ArrayBuffer.empty) += v

    private def layer(name: String, v: Double): Unit =
      if (traced) layers.getOrElseUpdate(name, ArrayBuffer.empty) += v

    /** Times one operation; a failure is counted and reported, not thrown. */
    private def op(name: String)(body: => Unit): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        body
        val t = secs(t0)
        System.err.println(f"[perfbench] $name%-40s $t%8.3f s")
        Some(t)
      } catch {
        case e: Throwable =>
          errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          None
      }
    }

    private def reading(): Map[String, Double] =
      if (traced) probes.read() else Map.empty

    private def delta(before: Map[String, Double], k: String): Double =
      probes.read().getOrElse(k, 0.0) - before.getOrElse(k, 0.0)

    private def link(day: String, src: Path): Unit = {
      val to = Files.createDirectories(src.resolve(day))
      Files.list(xetra.resolve(day)).iterator.asScala.foreach { f =>
        Files.createLink(to.resolve(f.getFileName), f)
      }
    }

    private def clockAt(day: String): Clock =
      Clock.fixed(LocalDate.parse(day).atTime(23, 0).toInstant(ZoneOffset.UTC),
        ZoneOffset.UTC)

    private def config(root: Path): JobConfig = JobConfig(
      SourceConfig(root.resolve("src").toUri.toString, dates.head, Src.columns,
        colDate = Src.date, colIsin = Src.isin, colTime = Src.time,
        colStartPrice = Src.startPrice, colMinPrice = Src.minPrice,
        colMaxPrice = Src.maxPrice, colTradedVol = Src.tradedVolume),
      TargetConfig(root.resolve("trg").toUri.toString,
        key = "report1/xetra_daily_report1_", keyDateFormat = "yyyyMMdd_HHmmss",
        format = "parquet", colIsin = "isin", colDate = "date",
        colOpPrice = Trg.openingPrice, colClosPrice = Trg.closingPrice,
        colMinPrice = Trg.minPrice, colMaxPrice = Trg.maxPrice,
        colDailyTradedVol = Trg.dailyTradedVolume,
        colChPrevClos = Trg.changePrevClosing),
      MetaConfig(root.resolve("trg").resolve("meta").resolve("meta.csv").toUri.toString))

    /** One batch run of the job; in traced iterations it is driven through
      * the job's public stages so each gets a span, and the io, meta and ops
      * layers are probed by calling their public functions on the same
      * inputs afterwards, outside the timed run.
      */
    private def batchRun(cfg: JobConfig, day: String, root: Path,
        backfill: Boolean): Option[Double] = {
      val job = new Report1Job(spark, cfg, clockAt(day))
      val name = if (backfill) "backfill_batch" else "daily_batch"
      if (!traced) return op(name)(job.run())
      val metaFile = Paths.get(java.net.URI.create(cfg.meta.metaUri))
      val probeMeta = root.resolve("probe").resolve("meta.csv")
      Files.createDirectories(probeMeta.getParent)
      Files.deleteIfExists(probeMeta)
      if (Files.exists(metaFile)) Files.copy(metaFile, probeMeta)
      var bars: DataFrame = null
      var loadR = Map.empty[String, Double]
      val r0 = reading()
      var extractR = r0
      val t = op(name) {
        tracer.span("jobs.run", "jobs") {
          tracer.span("meta.pendingDates", "meta")(job.extractDates)
          val fs0 = probes.read()
          bars = tracer.span("jobs.extract", "jobs")(job.extract())
          extractR = Counters.delta(probes.read(), fs0)
          val report = tracer.span("jobs.transform", "jobs")(job.transform(bars))
          val l0 = probes.read()
          tracer.span("jobs.load", "jobs")(job.load(report))
          loadR = Counters.delta(probes.read(), l0)
        }
      }
      val whole = Counters.delta(probes.read(), r0)
      if (backfill) {
        layer("jobs.extract_s", tracer.last("jobs.extract"))
        layer("jobs.transform_s", tracer.last("jobs.transform"))
        layer("jobs.load_s", tracer.last("jobs.load"))
        layer("jobs.spark_jobs", whole.getOrElse("spark_jobs", 0.0))
        layer("jobs.spark_tasks", whole.getOrElse("spark_tasks", 0.0))
        layer("io.fs_list_calls", extractR.getOrElse("fs_list_calls", 0.0))
        layer("io.write_s", loadR.getOrElse("sql_ns", 0.0) / 1e9)
        layer("io.write_jobs", loadR.getOrElse("spark_jobs", 0.0))
        layer("io.bytes_written", loadR.getOrElse("exec_bytes_written", 0.0))
        layer("io.files_written", loadR.getOrElse("exec_files_written", 0.0))
        // io probes: the connector's listing and CSV read on the same dates
        val conn = new Connector(spark, cfg.source.uri)
        val files = tracer.span("io.listPrefix", "io")(job.extractDates.flatMap(conn.listPrefix))
        layer("io.list_s", tracer.last("io.listPrefix"))
        layer("io.files_listed", files.size.toDouble)
        val c0 = probes.read()
        tracer.span("io.readCsv", "io")(conn.readCsv(files, Schema))
        layer("io.read_csv_s", tracer.last("io.readCsv"))
        layer("io.read_csv_tasks", delta(c0, "spark_tasks"))
      } else {
        layer("meta.pending_dates_s", tracer.last("meta.pendingDates"))
        tracer.span("meta.commit", "meta") {
          new MetaStore(probeMeta.toUri.toString,
            spark.sparkContext.hadoopConfiguration, clockAt(day))
            .commit(job.extractDates.filter(_ >= job.extractDate))
        }
        layer("meta.commit_s", tracer.last("meta.commit"))
        layer("meta.rows", (Files.readAllLines(probeMeta).size - 1).toDouble)
        if (bars != null) {
          val j0 = probes.read()
          tracer.span("ops.transform", "ops") {
            Report1.transform(bars, Src, Trg, job.extractDate)
          }
          layer("ops.transform_s", tracer.last("ops.transform"))
          layer("ops.transform_jobs", delta(j0, "spark_jobs"))
        }
      }
      t
    }

    private def streamRun(job: Report1StreamJob, name: String): Option[Double] =
      op(name)(tracer.span("streaming.runOnce", "streaming")(job.runOnce()))

    /** backfill + daily increments up to date `lastDay` over fresh state
      * under `root`. */
    private def etl(root: Path, lastDay: Int, record: Boolean): Map[String, Any] = {
      val src = Files.createDirectories(root.resolve("src"))
      val cfg = config(root)
      val streamOut = root.resolve("stream_out").toString
      val stream = new Report1StreamJob(spark, s"$src/*", streamOut,
        root.resolve("chk").toString, Schema, Src, Trg)
      val batchRuns = ArrayBuffer.empty[Map[String, Any]]
      val streamRuns = ArrayBuffer.empty[Seq[String]]
      val front = dates.take(backfillDays)
      front.foreach(link(_, src))
      val s0 = reading()
      val bb = batchRun(cfg, front.last, root, backfill = true)
      if (record) bb.foreach(sample("backfill_batch_s", _))
      batchRuns += Map("dates" -> front, "stamp" -> front.last)
      streamRuns += front
      val s1 = reading()
      val bs = streamRun(stream, "backfill_stream")
      if (record) bs.foreach(sample("backfill_stream_s", _))
      if (record) for (b <- bb; s <- bs) sample("etl_cold_s", b + s)
      val s2 = reading()
      for (day <- dates.slice(backfillDays, lastDay)) {
        link(day, src)
        val db = batchRun(cfg, day, root, backfill = false)
        if (record) db.foreach(sample("daily_batch_s", _))
        batchRuns += Map("dates" -> Seq(day), "stamp" -> day)
        val ds = streamRun(stream, "daily_stream")
        if (record) ds.foreach(sample("daily_stream_s", _))
        if (record) for (b <- db; s <- ds) sample("etl_warm_s", b + s)
        streamRuns += Seq(day)
      }
      if (traced) {
        val s3 = probes.read()
        val streamD = Counters.delta(s3, s1)
        for ((k, n) <- Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch",
            "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
            "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets"))
          layer(s"streaming.${n}_s", streamD.getOrElse(s"stream_${k}_ms", 0.0) / 1e3)
        layer("streaming.batches", streamD.getOrElse("stream_batches", 0.0))
        layer("streaming.input_rows", streamD.getOrElse("stream_input_rows", 0.0))
        execSum(Counters.delta(s2, s0))
      }
      Map("root" -> root.toString, "batch_runs" -> batchRuns, "stream_runs" -> streamRuns,
        "stream_out" -> streamOut, "meta" -> root.resolve("trg/meta/meta.csv").toString,
        "report_dir" -> root.resolve("trg/report1").toString)
    }

    private val execSums = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    private def execSum(d: Map[String, Double]): Unit =
      for (k <- Seq("exec_codegen_ms", "exec_rows_scanned", "exec_files_read",
          "exec_shuffle_bytes", "exec_shuffle_write_ns",
          "exec_agg_ms", "exec_spill_bytes", "exec_write_commit_ms"))
        execSums(k) += d.getOrElse(k, 0.0)

    /** exec.* sums the traced backfill and warm mix pass. */
    def execLayers(): Unit = {
      val g = execSums
      layer("exec.codegen_s", g("exec_codegen_ms") / 1e3)
      layer("exec.rows_scanned", g("exec_rows_scanned"))
      layer("exec.files_read", g("exec_files_read"))
      layer("exec.shuffle_bytes", g("exec_shuffle_bytes"))
      layer("exec.shuffle_write_s", g("exec_shuffle_write_ns") / 1e9)
      layer("exec.agg_build_s", g("exec_agg_ms") / 1e3)
      layer("exec.spill_bytes", g("exec_spill_bytes"))
      layer("exec.write_commit_s", g("exec_write_commit_ms") / 1e3)
    }

    /** One pass of the query mix in session `s`; each query is written in
      * full to `sink` (`noop` in timed passes). Returns the pass total in
      * seconds and the frames, for the result dump.
      */
    private def mixPass(s: SparkSession, pass: String,
        sink: (DataFrame, String) => Unit): (Double, Seq[(String, DataFrame)]) = {
      var total, construct, plan, execute, eager = 0.0
      val frames = ArrayBuffer.empty[(String, DataFrame)]
      for (name <- o.mix) {
        val q = Registry.all(name)
        var df: DataFrame = null
        var tc, tp = 0.0
        val t = op(s"$pass:$name") {
          val j0 = reading()
          val t0 = System.nanoTime()
          df = tracer.span("query.fn", "ops")(q.fn(s, tables))
          tc = secs(t0)
          // actions that ran while the frame was built, before any write
          if (pass == "cold" && traced) eager += delta(j0, "actions")
          if (traced) {
            val t1 = System.nanoTime()
            tracer.span("query.executedPlan", "plans")(df.queryExecution.executedPlan)
            tp = secs(t1)
          }
          tracer.span("query.write", "exec")(sink(df, name))
        }
        t.foreach { v =>
          total += v; construct += tc; plan += tp; execute += v - tc - tp
          if (pass == "warm") layer(s"query.${name}_s", v)
          frames += name -> df
        }
      }
      if (pass == "cold") {
        layer("query.construct_s", construct)
        layer("query.eager_jobs", eager)
      } else {
        layer("query.plan_s", plan)
        layer("query.execute_s", execute)
      }
      (total, frames.toSeq)
    }

    private val noop: (DataFrame, String) => Unit =
      (df, _) => df.write.format("noop").mode("overwrite").save()

    private val dumpDir = o.work.resolve("mix_dump")

    /** A sink that writes each result to parquet, for the checks. */
    private def dumpTo(pass: String): (DataFrame, String) => Unit = (df, name) =>
      try df.write.mode("overwrite").parquet(dumpDir.resolve(pass).resolve(name).toString)
      catch { case e: Throwable => errors += s"dump $pass:$name: ${e.getMessage}".take(500) }

    // whether memo-warm results were written for the checks
    private var warmDumped = false

    /** Releases every memo block, so the next session starts memo-cold. */
    private def release(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    private def mix(): Unit = {
      val s = spark.newSession()
      if (traced) probes.attach(s)
      val c0 = reading()
      val (cold, _) = mixPass(s, "cold", noop)
      val c1 = reading()
      if (traced) {
        val d = Counters.delta(c1, c0)
        layer("jvm.gc_s", d.getOrElse("jvm_gc_ms", 0.0) / 1e3)
        layer("jvm.codegen_compiles", d.getOrElse("jvm_codegen_compiles", 0.0))
        val (bytes, blocks) = probes.storage()
        layer("memo.storage_mb", bytes / 1e6)
        layer("memo.cached_blocks", blocks)
      }
      val (warm, frames) = mixPass(s, "warm", noop)
      sample("query_mix_warm_s", warm)
      if (traced) {
        val d = Counters.delta(probes.read(), c1)
        for (p <- Seq("exchanges", "reused_exchanges", "existing_rdd_scans",
            "broadcast_joins", "sort_merge_joins"))
          layer(s"plan.$p", d.getOrElse(s"plan_$p", 0.0))
        execSum(d)
      }
      val (retained, _) = probes.storage()
      if (traced) probes.detach(s)
      sample("query_mix_cold_s", cold)
      sample("query_mix_retained_mb", retained / 1e6)
      // without a mix warm-up, the memo-warm results of this pass are the
      // ones checked
      if (!warmDumped) frames.foreach { case (n, df) => dumpTo("warm")(df, n) }
      warmDumped = true
      release()
    }

    /** Runs `body` with spans, listeners and probes on. */
    def tracing(body: => Unit): Unit = {
      def set(on: Boolean): Unit = {
        traced = on
        tracer.enabled = on
        if (on) probes.enable() else probes.disable()
      }
      set(true)
      try body finally set(false)
    }

    /** JIT warm-up of the jobs on throw-away state: the whole backfill,
      * then one daily run. A second backfill after it runs within a few
      * percent of a third; the first daily run after a backfill is slow
      * in the warm-up as well, so that is the program's cost, not the JIT's.
      */
    def etlWarmup(i: Int): Unit =
      etl(o.work.resolve(s"warmup$i"), backfillDays + 1, record = false)

    /** JIT warm-up of the mix in throw-away sessions: a memo-cold pass,
      * then a memo-cold and a memo-warm pass in a second session; a
      * second memo-cold pass is still ~25% slower than a third. The
      * results of the first pass and of the memo-warm one are written for
      * the cold/warm and oracle checks.
      */
    def mixWarmup(i: Int): Unit = {
      mixPass(spark.newSession(), "warmup", dumpTo("cold"))
      release()
      val s = spark.newSession()
      mixPass(s, "warmup", noop)
      mixPass(s, "warmup", dumpTo("warm"))
      warmDumped = true
      release()
    }

    def etlIteration(i: Int): Unit =
      iterations += etl(o.work.resolve(s"it$i"), dates.size, record = true)

    def mixIteration(i: Int): Unit = mix()

    def resultJson(setup: Seq[Double], loopS: Double): String = {
      val oracles = o.mix.flatMap(n => Registry.all(n).oracle.map(n -> _)).toMap
      toJson(Map(
        "setup_s" -> setup,
        "loop_s" -> loopS,
        "samples" -> samples.collect { case ((false, k), v) => k -> v.toSeq }.toMap,
        "traced_samples" -> samples.collect { case ((true, k), v) => k -> v.toSeq }.toMap,
        "layers" -> layers.map { case (k, v) => k -> v.toSeq },
        "spans" -> tracer.byName.map { case (k, (n, tot, self)) =>
          k -> Map("calls" -> n, "total_s" -> tot, "self_s" -> self) },
        "layer_self_s" -> tracer.selfByLayer,
        "attempted" -> attempted,
        "errors" -> errors.toSeq,
        "dates" -> dates,
        "iterations" -> iterations.toSeq,
        "mix" -> (if (warmDumped) o.mix else Seq.empty),
        "mix_dump" -> dumpDir.toString,
        "oracles" -> oracles))
    }
  }
}
