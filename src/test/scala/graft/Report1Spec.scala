package graft

import graft.ops.{Report1, Report1SourceCols, Report1TargetCols}
import org.apache.spark.sql.Row

/** Golden-output test: the reference's canonical 9-row minute-bar fixture →
  * 3-row daily report (FIXTURES.md §1-2; reference
  * `tests/transformers/test_xetra_transformer.py:113-256`). These three rows
  * pin every quirky semantic: lag-of-opening-price under the "closing" name,
  * banker's rounding, integral volume sums, string-date filter.
  */
class Report1Spec extends SparkSpec {
  import spark.implicits._

  private val fixture = Seq(
    ("AT0000A0E9W5", "SANT", "2021-04-15", "12:00", 20.19, 18.45, 18.20, 20.33, 877L),
    ("AT0000A0E9W5", "SANT", "2021-04-16", "15:00", 18.27, 21.19, 18.27, 21.34, 987L),
    ("AT0000A0E9W5", "SANT", "2021-04-17", "13:00", 20.21, 18.27, 18.21, 20.42, 633L),
    ("AT0000A0E9W5", "SANT", "2021-04-17", "14:00", 18.27, 21.19, 18.27, 21.34, 455L),
    ("AT0000A0E9W5", "SANT", "2021-04-18", "07:00", 20.58, 19.27, 18.89, 20.58, 9066L),
    ("AT0000A0E9W5", "SANT", "2021-04-18", "08:00", 19.27, 21.14, 19.27, 21.14, 1220L),
    ("AT0000A0E9W5", "SANT", "2021-04-19", "07:00", 23.58, 23.58, 23.58, 23.58, 1035L),
    ("AT0000A0E9W5", "SANT", "2021-04-19", "08:00", 23.58, 24.22, 23.31, 24.34, 1028L),
    ("AT0000A0E9W5", "SANT", "2021-04-19", "09:00", 24.22, 22.21, 22.21, 25.01, 1523L)
  ).toDF("ISIN", "Mnemonic", "Date", "Time", "StartPrice", "EndPrice",
    "MinPrice", "MaxPrice", "TradedVolume")

  private val golden = Seq(
    Row("AT0000A0E9W5", "2021-04-17", 20.21, 18.27, 18.21, 21.34, 1088L, 10.62),
    Row("AT0000A0E9W5", "2021-04-18", 20.58, 19.27, 18.89, 21.14, 10286L, 1.83),
    Row("AT0000A0E9W5", "2021-04-19", 23.58, 24.22, 22.21, 25.01, 3586L, 14.58))

  test("9-row fixture produces the 3 golden report rows") {
    val got = Report1.transform(fixture, extractDate = "2021-04-17")
      .orderBy("ISIN", "Date").collect().toSeq
    assert(got.map(_.toSeq) == golden.map(_.toSeq))
  }

  test("output schema: names, string dates, long volume") {
    val out = Report1.transform(fixture, extractDate = "2021-04-17")
    assert(out.columns.toSeq == Seq("ISIN", "Date", "opening_price_eur",
      "closing_price_eur", "minimum_price_eur", "maximum_price_eur",
      "daily_traded_volume", "change_prev_closing_%"))
    val types = out.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("Date") == "string")
    assert(types("daily_traded_volume") == "bigint")
    assert(types("change_prev_closing_%") == "double")
  }

  test("first date per ISIN has null pct change when not filtered away") {
    val out = Report1.transform(fixture, extractDate = "2021-04-15")
    val first = out.orderBy("Date").select("change_prev_closing_%").head()
    assert(first.isNullAt(0))
  }

  test("empty input yields empty report with full schema") {
    val out = Report1.transform(fixture.limit(0), extractDate = "2021-04-17")
    assert(out.isEmpty)
    assert(out.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq ==
      Seq("ISIN" -> "string", "Date" -> "string", "opening_price_eur" -> "double",
        "closing_price_eur" -> "double", "minimum_price_eur" -> "double",
        "maximum_price_eur" -> "double", "daily_traded_volume" -> "bigint",
        "change_prev_closing_%" -> "double"))
  }

  test("building the report starts no Spark job") {
    // a shuffled input: unlike a local relation, probing it for rows would
    // need a job
    val bars = fixture.repartition(2)
    var out: org.apache.spark.sql.DataFrame = null
    assert(sparkJobsStartedBy {
      out = Report1.transform(bars, extractDate = "2021-04-17")
    } == 0)
    assert(out.orderBy("ISIN", "Date").collect().toSeq.map(_.toSeq) ==
      golden.map(_.toSeq))
  }

  test("a decimal tie rounds half-even on its decimal form: -32.675 -> -32.68") {
    // -32.675 is -32.67499... as a double, so numpy/pandas give -32.67;
    // bround rounds the decimal form (README, known deviations)
    val tie = Seq(("AT1", "SANT", "2021-04-19", "09:00",
      -32.675, -32.675, -32.675, -32.675, 1L))
      .toDF("ISIN", "Mnemonic", "Date", "Time", "StartPrice", "EndPrice",
        "MinPrice", "MaxPrice", "TradedVolume")
    val row = Report1.transform(tie, extractDate = "2021-04-19").head()
    for (c <- Seq("opening_price_eur", "closing_price_eur",
        "minimum_price_eur", "maximum_price_eur"))
      assert(row.getAs[Double](c) == -32.68, c)
  }

  test("open and close follow time order across HH:MM and HH:MM:SS.ffffff") {
    // input order is not time order; min/max prices are not open/close
    val mixed = Seq(
      ("AT1", "SANT", "2021-04-19", "12:00", 12.0, 1.0, 1.0, 99.0, 1L),
      ("AT1", "SANT", "2021-04-19", "12:00:00.000001", 13.0, 1.0, 1.0, 99.0, 1L),
      ("AT1", "SANT", "2021-04-19", "08:00", 10.0, 1.0, 1.0, 99.0, 1L),
      ("AT1", "SANT", "2021-04-19", "11:59:59.999999", 11.0, 1.0, 1.0, 99.0, 1L),
      ("AT1", "SANT", "2021-04-19", "07:59:59.999999", 9.0, 1.0, 1.0, 99.0, 1L))
      .toDF("ISIN", "Mnemonic", "Date", "Time", "StartPrice", "EndPrice",
        "MinPrice", "MaxPrice", "TradedVolume")
    val row = Report1.transform(mixed, extractDate = "2021-04-19").head()
    assert(row.getAs[Double]("opening_price_eur") == 9.0)
    assert(row.getAs[Double]("closing_price_eur") == 13.0)
    assert(row.getAs[Long]("daily_traded_volume") == 5L)
  }

  test("rows with any null are dropped before aggregation") {
    val withNull = fixture.unionByName(
      Seq(("AT0000A0E9W5", null.asInstanceOf[String], "2021-04-19", "10:00",
        99999.0, 1.0, 1.0, 99999.0, 7L))
        .toDF("ISIN", "Mnemonic", "Date", "Time", "StartPrice", "EndPrice",
          "MinPrice", "MaxPrice", "TradedVolume"))
    val got = Report1.transform(withNull, extractDate = "2021-04-17")
      .orderBy("ISIN", "Date").collect().toSeq
    assert(got.map(_.toSeq) == golden.map(_.toSeq))
  }
}
