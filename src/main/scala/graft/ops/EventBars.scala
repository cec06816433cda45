package graft.ops

import graft.{QueryDef, Registry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship query: the reference's daily OHLCV report
  * (`xetra/transformers/xetra_transformer.py:127-208`) run over the driver's
  * `events` table, which plays the minute-bar role (FIXTURES.md §5 mapping:
  * ts → Date/Time, user_id → ISIN, value → price, props.k → volume).
  *
  * Routed through [[Report1.transform]] so the verify harness exercises the
  * exact production operator chain — one min_by/max_by/min/max/sum
  * aggregate, lag pct-change, HALF_EVEN bround, string-date range filter.
  */
object EventBars {

  /** events → minute-bar shape with the reference's string-typed Date/Time.
    * `Time` is formatted to microsecond precision so its time of day orders
    * the bars as `ts` does (ties: none in the driver data, checked).
    */
  def bars(spark: SparkSession, dir: String): DataFrame =
    Registry.events(spark, dir).select(
      col("user_id").cast("string").as("user_id"),
      date_format(col("ts"), "yyyy-MM-dd").as("date"),
      date_format(col("ts"), "HH:mm:ss.SSSSSS").as("time"),
      col("value"),
      col("value").as("min_value"),
      col("value").as("max_value"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))

  private val src = Report1SourceCols(
    isin = "user_id", date = "date", time = "time", startPrice = "value",
    minPrice = "min_value", maxPrice = "max_value", tradedVolume = "k",
    columns = Seq("user_id", "date", "time", "value", "min_value",
      "max_value", "k"))

  private val trg = Report1TargetCols(
    openingPrice = "open_value", closingPrice = "close_value",
    minPrice = "min_value", maxPrice = "max_value",
    dailyTradedVolume = "volume", changePrevClosing = "change_prev_open_pct")

  /** Daily report with a mid-range extract date: earlier days are read only
    * to feed the lag, then dropped (reference P3 semantics).
    */
  def report1(spark: SparkSession, dir: String, extractDate: String = "2024-01-03"): DataFrame =
    Report1.transform(bars(spark, dir), src, trg, extractDate)
      .orderBy("user_id", "date")

  /** DuckDB equivalent. Mirrors the operator chain 1:1; `round(x, 2)` vs
    * Spark's HALF_EVEN `bround` agree on division results (ties require a
    * shortest-decimal-repr ending exactly in '5', which quotients of the
    * synthetic data never produce — verified at sf0.01/sf0.1).
    */
  private val report1Oracle = """
WITH bars AS (
  SELECT CAST(user_id AS VARCHAR) AS user_id,
         strftime(ts, '%Y-%m-%d') AS date,
         ts, value,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
  -- mirror of Report1.transform's na.drop("any"): a row whose $.k is
  -- missing (or any other null) is dropped by the Spark side, so pin the
  -- same semantics here instead of relying on the data being null-free
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL
), w AS (
  SELECT user_id, date, value, k,
    first_value(value) OVER (PARTITION BY user_id, date ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS open_value,
    last_value(value) OVER (PARTITION BY user_id, date ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close_value
  FROM bars
), daily AS (
  SELECT user_id, date,
         min(open_value) AS open_value, min(close_value) AS close_value,
         min(value) AS min_value, max(value) AS max_value,
         CAST(sum(k) AS BIGINT) AS volume
  FROM w GROUP BY user_id, date
), lagged AS (
  SELECT *, lag(open_value) OVER (PARTITION BY user_id ORDER BY date) AS prev
  FROM daily
)
SELECT user_id, date, open_value, close_value, min_value, max_value, volume,
       CASE WHEN prev = 0 THEN NULL
            ELSE round_even((open_value - prev) / prev * 100, 2)
       END AS change_prev_open_pct
FROM lagged
WHERE date >= '2024-01-03'
ORDER BY user_id, date
"""

  val queries: Map[String, QueryDef] = Map(
    "report1_daily_ohlcv" -> QueryDef(
      (s, dir) => report1(s, dir), Some(report1Oracle))
  )
}
