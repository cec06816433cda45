package graft

import java.nio.file.{Files, Path}
import java.time.{Clock, Instant, ZoneOffset}

import graft.config.Configs
import graft.io.{Connector, UnsupportedFormatException}
import graft.jobs.Report1Job
import org.apache.spark.sql.types._

/** End-to-end incremental job over a date-partitioned local layout: the
  * golden 9-row fixture spread over per-hour CSVs (the reference's S3 key
  * shape), run twice — first run produces the golden report + meta file,
  * second run is a sentinel no-op (reference integration test shape,
  * `tests/integration_tests/test_int_xetra_transformer.py`).
  */
class JobSpec extends SparkSpec {

  private val clock =
    Clock.fixed(Instant.parse("2021-04-19T12:30:00Z"), ZoneOffset.UTC)

  private val fixtureRows = Seq(
    ("2021-04-15", "12", "AT0000A0E9W5,SANT,2021-04-15,12:00,20.19,18.45,18.20,20.33,877"),
    ("2021-04-16", "15", "AT0000A0E9W5,SANT,2021-04-16,15:00,18.27,21.19,18.27,21.34,987"),
    ("2021-04-17", "13", "AT0000A0E9W5,SANT,2021-04-17,13:00,20.21,18.27,18.21,20.42,633"),
    ("2021-04-17", "14", "AT0000A0E9W5,SANT,2021-04-17,14:00,18.27,21.19,18.27,21.34,455"),
    ("2021-04-18", "07", "AT0000A0E9W5,SANT,2021-04-18,07:00,20.58,19.27,18.89,20.58,9066"),
    ("2021-04-18", "08", "AT0000A0E9W5,SANT,2021-04-18,08:00,19.27,21.14,19.27,21.14,1220"),
    ("2021-04-19", "07", "AT0000A0E9W5,SANT,2021-04-19,07:00,23.58,23.58,23.58,23.58,1035"),
    ("2021-04-19", "08", "AT0000A0E9W5,SANT,2021-04-19,08:00,23.58,24.22,23.31,24.34,1028"),
    ("2021-04-19", "09", "AT0000A0E9W5,SANT,2021-04-19,09:00,24.22,22.21,22.21,25.01,1523"))

  private val header =
    "ISIN,Mnemonic,Date,Time,StartPrice,EndPrice,MinPrice,MaxPrice,TradedVolume"

  /** The job's source schema, for tests that read CSV through `Connector`. */
  private val barSchema = StructType(Seq(
    StructField("ISIN", StringType), StructField("Mnemonic", StringType),
    StructField("Date", StringType), StructField("Time", StringType),
    StructField("StartPrice", DoubleType), StructField("EndPrice", DoubleType),
    StructField("MinPrice", DoubleType), StructField("MaxPrice", DoubleType),
    StructField("TradedVolume", LongType)))

  /** Lay out the fixture as `<date>/<date>_BINS_XETR<HH>.csv`. */
  private def layout(src: Path): Unit =
    fixtureRows.groupBy(r => (r._1, r._2)).foreach { case ((date, hour), rows) =>
      val dir = src.resolve(date)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"${date}_BINS_XETR$hour.csv"),
        header + "\n" + rows.map(_._3).mkString("\n") + "\n")
    }

  private def configFile(root: Path,
      layoutSrc: Path => Unit = layout): Path = {
    val src = root.resolve("src"); val trg = root.resolve("trg")
    Files.createDirectories(src); Files.createDirectories(trg)
    layoutSrc(src)
    val yaml =
      s"""source:
         |  src_uri: '${src.toUri}'
         |  src_first_extract_date: '2021-04-17'
         |  src_columns: ['ISIN', 'Mnemonic', 'Date', 'Time', 'StartPrice', 'EndPrice', 'MinPrice', 'MaxPrice', 'TradedVolume']
         |  src_col_date: 'Date'
         |  src_col_isin: 'ISIN'
         |  src_col_time: 'Time'
         |  src_col_start_price: 'StartPrice'
         |  src_col_min_price: 'MinPrice'
         |  src_col_max_price: 'MaxPrice'
         |  src_col_traded_vol: 'TradedVolume'
         |target:
         |  trg_uri: '${trg.toUri}'
         |  trg_key: 'report1/xetra_daily_report1_'
         |  trg_key_date_format: 'yyyyMMdd_HHmmss'
         |  trg_format: 'parquet'
         |  trg_col_isin: 'isin'
         |  trg_col_date: 'date'
         |  trg_col_op_price: 'opening_price_eur'
         |  trg_col_clos_price: 'closing_price_eur'
         |  trg_col_min_price: 'minimum_price_eur'
         |  trg_col_max_price: 'maximum_price_eur'
         |  trg_col_dail_trad_vol: 'daily_traded_volume'
         |  trg_col_ch_prev_clos: 'change_prev_closing_%'
         |meta:
         |  meta_uri: '${trg.toUri}meta/meta.csv'
         |""".stripMargin
    val f = root.resolve("config.yaml")
    Files.writeString(f, yaml)
    f
  }

  test("first run: golden report written, meta committed; second run: no-op") {
    val root = Files.createTempDirectory("graftjob")
    val cfg = Configs.load(configFile(root).toString)
    val job = new Report1Job(spark, cfg, clock)
    assert(job.extractDate == "2021-04-17")
    assert(job.extractDates ==
      Seq("2021-04-16", "2021-04-17", "2021-04-18", "2021-04-19"))
    job.run()

    val outDir = root.resolve("trg").resolve("report1")
    val written = Files.list(outDir).toArray.map(_.toString)
    assert(written.exists(_.contains("xetra_daily_report1_20210419_123000")))
    val report = spark.read.parquet(written.head)
      .orderBy("ISIN", "Date").collect().toSeq.map(_.toSeq)
    assert(report == Seq(
      Seq("AT0000A0E9W5", "2021-04-17", 20.21, 18.27, 18.21, 21.34, 1088L, 10.62),
      Seq("AT0000A0E9W5", "2021-04-18", 20.58, 19.27, 18.89, 21.14, 10286L, 1.83),
      Seq("AT0000A0E9W5", "2021-04-19", 23.58, 24.22, 22.21, 25.01, 3586L, 14.58)))

    val meta = Files.readString(root.resolve("trg").resolve("meta").resolve("meta.csv"))
    assert(meta ==
      "source_date,datetime_of_processing\n" +
      "2021-04-17,2021-04-19 12:30:00\n" +
      "2021-04-18,2021-04-19 12:30:00\n" +
      "2021-04-19,2021-04-19 12:30:00\n")

    // second run: everything processed → sentinel, empty extract, no write
    val job2 = new Report1Job(spark, cfg, clock)
    assert(job2.extractDate == "2200-01-01")
    assert(job2.extractDates.isEmpty)
    job2.run()
    assert(Files.list(outDir).toArray.length == written.length,
      "no-op run must not write a new report")
  }

  test("extract hands Spark the existing date prefixes: no job, markers skipped") {
    // Friday and Monday, 24 hourly files each (48 paths, above Spark's
    // 32-path parallel-listing threshold); the weekend between has no
    // prefix. Monday's last hour sits one level deeper, and a `_SUCCESS`
    // marker holding a row must not be read as data.
    def hourly(src: Path): Unit =
      for ((date, base) <- Seq("2021-04-16" -> 10, "2021-04-19" -> 20);
           h <- 0 until 24) {
        val hh = f"$h%02d"
        val dir =
          if (date == "2021-04-19" && h == 23) src.resolve(date).resolve("late")
          else src.resolve(date)
        Files.createDirectories(dir)
        val p = base + h
        Files.writeString(dir.resolve(s"${date}_BINS_XETR$hh.csv"),
          s"$header\nAT1,SANT,$date,$hh:00,$p,$p,${p - 1},${p + 1},100\n")
      }
    val root = Files.createTempDirectory("graftjob_hourly")
    val cfg = Configs.load(configFile(root, src => {
      hourly(src)
      Files.writeString(src.resolve("2021-04-19").resolve("_SUCCESS"),
        s"$header\nAT1,SANT,2021-04-19,23:59,999,999,0.5,999,7\n")
    }).toString)
    val job = new Report1Job(spark, cfg, clock)
    assert(job.extractDates ==
      Seq("2021-04-16", "2021-04-17", "2021-04-18", "2021-04-19"))
    var bars: org.apache.spark.sql.DataFrame = null
    assert(sparkJobsStartedBy { bars = job.extract() } == 0)
    assert(bars.count() == 48)

    job.run()
    val outDir = root.resolve("trg").resolve("report1")
    val report = spark.read.parquet(Files.list(outDir).toArray.head.toString)
      .collect().toSeq.map(_.toSeq)
    assert(report ==
      Seq(Seq("AT1", "2021-04-19", 20.0, 43.0, 19.0, 44.0, 2400L, 100.0)))
  }

  test("run() writes a small report over several instruments as one part file") {
    // 8 instruments x 3 days: the report's exchanges hash the rows over
    // every shuffle partition, and the write must still coalesce to one
    val isins = (1 to 8).map(i => s"AT$i")
    val root = Files.createTempDirectory("graftjob_parts")
    val cfg = Configs.load(configFile(root, src =>
      for (date <- Seq("2021-04-16", "2021-04-17", "2021-04-19")) {
        val dir = src.resolve(date)
        Files.createDirectories(dir)
        Files.writeString(dir.resolve(s"${date}_BINS_XETR09.csv"),
          header + "\n" + isins.zipWithIndex.map { case (isin, i) =>
            s"$isin,SANT,$date,09:00,${10 + i},${10 + i},${9 + i},${11 + i},100"
          }.mkString("\n") + "\n")
      }).toString)
    val job = new Report1Job(spark, cfg, clock)
    assert(job.run())
    val outDir = root.resolve("trg").resolve("report1")
    val written = Files.list(outDir).toArray.map(_.toString)
    assert(written.length == 1)
    val parts = Files.list(Path.of(written.head)).toArray
      .map(_.asInstanceOf[Path].getFileName.toString).filter(_.startsWith("part-"))
    assert(parts.length == 1, parts.mkString(", "))
    assert(spark.read.parquet(written.head).count() == 16)
  }

  test("connector rejects unknown formats with a typed exception") {
    val root = Files.createTempDirectory("graftconn")
    val c = new Connector(spark, root.toUri.toString)
    import spark.implicits._
    intercept[UnsupportedFormatException](
      c.write(Seq(1, 2).toDF("x"), "out", "avro-ish"))
  }

  test("connector empty read keeps the declared schema (S4 improved)") {
    val root = Files.createTempDirectory("graftconn2")
    val c = new Connector(spark, root.toUri.toString)
    val schema = StructType(Seq(StructField("a", StringType),
      StructField("b", LongType)))
    val df = c.readCsv(Seq.empty, schema)
    assert(df.isEmpty && df.schema == schema)
  }

  test("malformed csv rows become nulls (PERMISSIVE) and are dropped by the report") {
    val root = Files.createTempDirectory("malformed")
    // row 2: non-numeric price; row 3: truncated (missing columns);
    // row 4: a Time that is not a time of day
    Files.writeString(root.resolve("bad.csv"),
      header + "\n" +
        "AT1,SANT,2021-04-15,12:00,20.19,18.45,18.20,20.33,877\n" +
        "AT1,SANT,2021-04-15,13:00,NOT_A_PRICE,18.45,18.20,20.33,877\n" +
        "AT1,SANT,2021-04-15\n" +
        "AT1,SANT,2021-04-15,NOT_A_TIME,30.00,30.00,30.00,30.00,500\n")
    val c = new Connector(spark, root.toUri.toString)
    val df = c.readCsv(Seq(root.resolve("bad.csv").toString), barSchema)
    // PERMISSIVE (the default): unparseable cells -> null, the row survives
    // (both the bad-price row and the truncated row null out StartPrice)
    assert(df.count() == 4)
    assert(df.filter(df("StartPrice").isNull).count() == 2)
    assert(df.filter(df("Mnemonic").isNull).count() == 0) // parseable prefix kept
    // the string Time reads as is; only the report finds it unparseable
    assert(df.na.drop("any").count() == 2)
    // the report's P2 drop discards the null-price rows and the bad-Time
    // row alike: only the 12:00 bar is left in the day
    val report = graft.ops.Report1.transform(df, extractDate = "2021-04-15")
      .collect()
    assert(report.map(r => (r.getAs[Double]("opening_price_eur"),
      r.getAs[Double]("closing_price_eur"), r.getAs[Double]("maximum_price_eur"),
      r.getAs[Long]("daily_traded_volume"))).toSeq ==
      Seq((20.19, 20.19, 20.33, 877L)))
  }

  test("a quoted field holding a newline reads as one row, batch and stream") {
    val root = Files.createTempDirectory("quoted_newline")
    val day = root.resolve("src").resolve("2021-04-15")
    Files.createDirectories(day)
    Files.writeString(day.resolve("2021-04-15_BINS_XETR12.csv"),
      header + "\n" +
        "AT1,\"SA\nNT\",2021-04-15,12:00,20.19,18.45,18.20,20.33,877\n" +
        "AT1,SANT,2021-04-15,13:00,18.27,21.19,18.27,21.34,455\n")
    val bars = new Connector(spark, root.toUri.toString)
      .readCsv(Seq(day.toString), barSchema)
    assert(bars.orderBy("Time").collect().map(r =>
      (r.getAs[String]("Mnemonic"), r.getAs[String]("Time"))).toSeq ==
      Seq(("SA\nNT", "12:00"), ("SANT", "13:00")))
    // the stream twin reads the same dialect: both bars make one day
    val out = root.resolve("out").toString
    new graft.streaming.EventStream.Report1StreamJob(spark,
      s"${root.resolve("src")}/*", out, root.resolve("chk").toString, barSchema,
      graft.ops.Report1SourceCols(), graft.ops.Report1TargetCols()).runOnce()
    assert(spark.read.parquet(out).collect().map(r =>
      (r.getAs[Double]("opening_price_eur"), r.getAs[Double]("closing_price_eur"),
        r.getAs[Long]("daily_traded_volume"))).toSeq ==
      Seq((20.19, 18.27, 1332L)))
  }

  test("dynamic partition overwrite replaces only the re-delivered day") {
    import spark.implicits._
    val root = Files.createTempDirectory("dyn_parts")
    val c = new Connector(spark, root.toUri.toString)
    assert(c.writePartitioned(
      Seq(("2024-01-01", 1L, 10.0), ("2024-01-02", 2L, 20.0))
        .toDF("day", "id", "v"), "tbl", Seq("day")))
    // re-deliver day 2 with different content — day 1 must survive
    assert(c.writePartitioned(
      Seq(("2024-01-02", 9L, 99.0)).toDF("day", "id", "v"), "tbl", Seq("day")))
    // partition-column type inference reads `day` back as DATE — pin the
    // string form for the comparison
    val got = spark.read.parquet(root.resolve("tbl").toString)
      .select(org.apache.spark.sql.functions.col("day").cast("string")
        .as("day"), org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("v"))
      .orderBy("day").collect().map(r =>
        (r.getAs[String]("day"), r.getAs[Long]("id"), r.getAs[Double]("v"))).toSeq
    assert(got == Seq(("2024-01-01", 1L, 10.0), ("2024-01-02", 9L, 99.0)))
    // empty frame: skip, nothing clobbered
    assert(!c.writePartitioned(
      Seq.empty[(String, Long, Double)].toDF("day", "id", "v"), "tbl", Seq("day")))
    assert(spark.read.parquet(root.resolve("tbl").toString).count() == 2)
  }

  test("observe() metrics describe exactly the written rows, no extra pass") {
    val root = Files.createTempDirectory("graftjob_obs")
    val cfg = Configs.load(configFile(root).toString)
    val job = new Report1Job(spark, cfg, clock)
    val observed = job.transformObserved(job.extract())
    observed.collect() // one execution — the metrics ride along with it
    val metrics = observed.queryExecution.observedMetrics("report1_metrics")
    // golden fixture → 3 report rows (2021-04-17..19), one instrument, and
    // ZERO null-boundary rows — the job's −1-day overlap (04-16 extracted
    // purely to feed the lag) is exactly what this metric exists to watch:
    // a nonzero value in production means a cold-start boundary leaked
    assert(metrics.getAs[Long]("rows_out") == 3L)
    assert(metrics.getAs[Long]("approx_instruments") == 1L)
    assert(metrics.getAs[Long]("null_prev_close_rows") == 0L)
  }

  test("connector csv round-trip with header") {
    val root = Files.createTempDirectory("graftconn3")
    val c = new Connector(spark, root.toUri.toString)
    import spark.implicits._
    assert(c.write(Seq(("x", 1L), ("y", 2L)).toDF("name", "n"), "out", "csv"))
    val files = c.listPrefix("out").filter(_.endsWith(".csv"))
    assert(files.nonEmpty)
    val back = c.readCsv(files, StructType(Seq(
      StructField("name", StringType), StructField("n", LongType))))
    assert(back.orderBy("name").collect().map(_.toSeq).toSeq ==
      Seq(Seq("x", 1L), Seq("y", 2L)))
  }

  test("listPrefix names the files under a prefix, nested ones too, sorted") {
    val root = Files.createTempDirectory("graftconn6")
    val c = new Connector(spark, root.toUri.toString)
    for (f <- Seq("d/b.csv", "d/a.csv", "d/sub/c.csv", "e/x.csv")) {
      Files.createDirectories(root.resolve(f).getParent)
      Files.writeString(root.resolve(f), "x\n")
    }
    Files.createDirectories(root.resolve("d/empty"))
    val uri = new org.apache.hadoop.fs.Path(root.toUri.toString).toString
    assert(c.listPrefix("d") ==
      Seq("d/a.csv", "d/b.csv", "d/sub/c.csv").map(f => s"$uri/$f"))
    assert(c.listPrefix("d/a.csv") == Seq(s"$uri/d/a.csv"))
    assert(c.listPrefix("missing").isEmpty)
  }

  test("an empty write leaves the key's earlier rows readable") {
    val root = Files.createTempDirectory("graftconn5")
    val c = new Connector(spark, root.toUri.toString)
    import spark.implicits._
    assert(c.write(Seq(("x", 1L), ("y", 2L)).toDF("name", "n"), "out", "parquet"))
    assert(!c.write(Seq.empty[(String, Long)].toDF("name", "n"), "out", "parquet"))
    assert(spark.read.parquet(root.resolve("out").toString)
      .orderBy("name").collect().map(_.toSeq).toSeq ==
      Seq(Seq("x", 1L), Seq("y", 2L)))
  }

  test("empty frame write is skipped (reference S4)") {
    val root = Files.createTempDirectory("graftconn4")
    val c = new Connector(spark, root.toUri.toString)
    import spark.implicits._
    assert(!c.write(Seq.empty[(String, Long)].toDF("name", "n"), "out", "parquet"))
  }
}
