package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, TimestampNTZType}

/** Source-side column names of the minute-bar table (reference:
  * `xetra/transformers/xetra_transformer.py:13-36` — `XetraSourceConfig`).
  * Defaults mirror `configs/xetra_report1_config.yaml:13-20`.
  */
final case class Report1SourceCols(
    isin: String = "ISIN",
    date: String = "Date",
    time: String = "Time",
    startPrice: String = "StartPrice",
    minPrice: String = "MinPrice",
    maxPrice: String = "MaxPrice",
    tradedVolume: String = "TradedVolume",
    /** Projection list (reference `src_columns`); order preserved. */
    columns: Seq[String] = Seq("ISIN", "Mnemonic", "Date", "Time",
      "StartPrice", "EndPrice", "MinPrice", "MaxPrice", "TradedVolume"))

/** Target-side column names (reference: `xetra_transformer.py:39-66` —
  * `XetraTargetConfig`; defaults from `configs/xetra_report1_config.yaml:27-34`).
  * Note the report keeps the *source* names for the two group keys — the
  * reference's groupBy passes them through unrenamed
  * (`xetra_transformer.py:175-185`).
  */
final case class Report1TargetCols(
    openingPrice: String = "opening_price_eur",
    closingPrice: String = "closing_price_eur",
    minPrice: String = "minimum_price_eur",
    maxPrice: String = "maximum_price_eur",
    dailyTradedVolume: String = "daily_traded_volume",
    changePrevClosing: String = "change_prev_closing_%")

/** The analytic core: minute bars → daily per-instrument OHLCV report.
  *
  * Same semantics as the reference's `transform_report1`
  * (`xetra/transformers/xetra_transformer.py:127-208`), re-expressed as one
  * lazy Column-expression chain: P1→P2→A1→W3→E1→E2→P3 (SURVEY.md §2.7 C2).
  * The reference copies each group's first/last `StartPrice` by `Time` onto
  * every row (W1/W2), renames (P4) and takes `min()` of those copies in its
  * aggregate (A1); here W1/W2 are `min_by`/`max_by` of `StartPrice` by
  * `Time` inside the one (isin, date) aggregate, which gives the same prices
  * with no whole-row window and lets Spark hash-aggregate partially before
  * the exchange.
  *
  * Parity traps handled here (SURVEY.md §4.4):
  *  - W1/W2 order on `Time` parsed as a time of day, not on the string:
  *    `HH:MM` and `HH:MM:SS.ffffff` then order alike, and the timestamp key
  *    fits a hash aggregate where a string key plans a sort aggregate. The
  *    reference sorts the string; the two agree on zero-padded times. A row
  *    whose `Time` does not parse is dropped with P2, as a row with an
  *    unparseable price is (README, known deviations).
  *  - Ties: when two bars of one (isin, date) share a time, `min_by`/
  *    `max_by` pick an arbitrary one of them — as does first/last over a
  *    `Time`-ordered window and pandas' unstable sort (SURVEY.md §2.3).
  *  - E2 rounding is `bround` (HALF_EVEN), never `round` (HALF_UP). It
  *    matches numpy's banker's rounding except at a decimal tie: `bround`
  *    rounds the decimal form (-32.675 → -32.68), numpy the binary double
  *    (-32.67499… → -32.67). FIXTURES.md specifies `bround`; README lists
  *    the deviation.
  *  - P3 compares the date column as an ISO *string* (lexicographic), exactly
  *    as the reference does (`xetra_transformer.py:203-206`).
  *  - `tradedVolume` stays integral through `sum` (LongType, not double).
  *  - W3 lags the *opening* price despite the "change_prev_closing" target
  *    name — reference quirk pinned by its golden tests
  *    (`tests/transformers/test_xetra_transformer.py:252-256`); do not "fix".
  */
object Report1 {

  /** Pure transform: apply to any DataFrame holding the source schema.
    * Lazy — building the report runs no Spark job. Empty input needs no
    * guard (reference S4: `xetra_transformer.py:136-140`): the chain yields
    * an empty report with the full output schema, and the writer skips it.
    *
    * @param extractDate ISO `yyyy-MM-dd`; rows strictly before it are read
    *                    only to feed the lag (W3) and dropped at the end (P3).
    */
  def transform(
      bars: DataFrame,
      src: Report1SourceCols = Report1SourceCols(),
      trg: Report1TargetCols = Report1TargetCols(),
      extractDate: String): DataFrame = {
    // W3: previous trading day's *opening* price per isin.
    val byDate = Window.partitionBy(col(src.isin)).orderBy(col(src.date))

    val daily = bars
      .select(src.columns.map(col): _*)                       // P1 projection
      .withColumn(src.time, timeOfDay(col(src.time)))          // W1/W2 key
      .na.drop("any")                                         // P2 dropna
      .groupBy(col(src.isin), col(src.date))                   // A1 agg
      .agg(
        min_by(col(src.startPrice), col(src.time)).as(trg.openingPrice), // W1
        max_by(col(src.startPrice), col(src.time)).as(trg.closingPrice), // W2
        min(col(src.minPrice)).as(trg.minPrice),
        max(col(src.maxPrice)).as(trg.maxPrice),
        sum(col(src.tradedVolume)).as(trg.dailyTradedVolume))
      // W3 lands in the target column and E1 rewrites it in place: inlined
      // into pctChange, which reads it three times, the lag would be
      // planned as three window expressions
      .withColumn(trg.changePrevClosing,                       // W3 lag
        lag(col(trg.openingPrice), 1).over(byDate))
      .withColumn(trg.changePrevClosing,                       // E1 pct change
        pctChange(col(trg.openingPrice), col(trg.changePrevClosing)))

    val rounded = daily.select(daily.schema.fields.map { f =>  // E2 bround(2)
      if (f.dataType == DoubleType) bround(col(f.name), 2).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)

    rounded.filter(col(src.date) >= lit(extractDate))          // P3 string cmp
  }

  /** `Time` as a time of day on a fixed date, null when it does not parse.
    * A timestamp orders `HH:MM` and `HH:MM:SS.ffffff` alike and, being
    * fixed-width, lets `min_by`/`max_by` run in a hash aggregate; a string
    * key forces a sort aggregate that sorts every row before the exchange.
    */
  private def timeOfDay(time: Column): Column =
    concat(lit("1970-01-01 "), time).try_cast(TimestampNTZType)

  /** Percent change vs the lagged value. Null when the previous value is 0
    * or null — an explicit guard so the plan is ANSI-safe (Spark 4's default
    * ANSI mode raises DIVIDE_BY_ZERO) and engine-independent (pandas would
    * give ±inf here; documented deviation, the reference's price data never
    * contains zeros).
    */
  def pctChange(cur: Column, prev: Column): Column =
    when(prev =!= 0.0, (cur - prev) / prev * 100)
}
