package graft.ops

import graft.{QueryDef, Registry}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Time-series / trading analytics over the `events` ticks — the natural
  * extension family of the reference's domain: its whole purpose is the
  * daily OHLCV bar (`/root/reference/xetra/transformers/xetra_transformer.py:127-208`,
  * W1/W2/A1 in SURVEY.md §2), and these are the indicators a trading desk
  * computes *from* those bars (VWAP, rolling volatility, Bollinger bands,
  * drawdown, RSI, EWMA, calendar gap-fill).
  *
  * Numeric posture (cross-engine hash-equality): every rolling statistic is
  * derived from EXACT integer state — prices quantized to cents (longs),
  * window sums of longs (order-free, algorithm-free: a segment-tree sliding
  * sum and a naive recompute agree exactly on integers) — and only the final
  * step combines them in IEEE double arithmetic (one division, one sqrt).
  * Built-in floating `stddev`/`avg` over sliding frames would hash-diverge
  * between engines; exact power sums cannot.
  *
  * Scale posture: one partial-aggregated shuffle builds the daily bars
  * (events collapse map-side per (user, day) before moving), then every
  * indicator is a window over `user_id` — a single repartition by key that
  * AQE coalesces, with all rolling state bounded by the frame (7/10/14
  * rows), never O(history). At 100 TB the bars relation is ~5 orders of
  * magnitude smaller than the tick table; the indicator stage is trivially
  * cheap compared to the scan.
  */
object TimeSeriesOps {

  /** Daily bars per (user, day): open/close via `min_by`/`max_by` on the
    * event time (the engine form of the reference's sort+first/last windows
    * W1/W2), high/low/volume as plain aggregates. `(user_id, ts)` is
    * tie-free in the testdata, so arg-min/max are deterministic.
    *
    * Session-memoized + `localCheckpoint`ed (r14, guide §2.4 duplicated
    * work): SEVEN indicator queries (volatility, bollinger, drawdown, rsi,
    * ewma, ffill, v-bottom) each re-ran the full tick scan — including the
    * per-event `from_json(props)` parse — plus the (user, day) aggregation
    * exchange just to rebuild these bars. One build per (session, corpus)
    * instead; the bars relation is the column-complete aggregate every
    * consumer starts from (same discipline as `TextOps.termTf` and the
    * dedup posting bases), so no consumer's semantics can change — pinned
    * by the memo-vs-direct law in OptR14Spec.
    */
  private val dailyCache = new graft.FrameMemo

  private[graft] def daily(s: SparkSession, dir: String): DataFrame =
    dailyCache.getOrElseUpdate(s, dir)(dailyUncached(s, dir))

  private[graft] def dailyUncached(s: SparkSession, dir: String): DataFrame =
    Registry.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("ts"),
        col("value"),
        from_json(col("props"), StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
      .groupBy("user_id", "day")
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max_by(col("value"), col("ts")).as("close"),
        max("value").as("hi"),
        min("value").as("lo"),
        sum("k").as("vol"),
        count(lit(1)).as("n_trades"))

  /** Shared oracle CTE mirroring [[daily]] (DuckDB `arg_min`/`arg_max` ==
    * Spark `min_by`/`max_by` under tie-free ordering).
    */
  private val DailyCte = """
daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
    arg_min(value, ts) AS open, arg_max(value, ts) AS close,
    max(value) AS hi, min(value) AS lo,
    CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS vol,
    count(*) AS n_trades
  FROM events GROUP BY 1, 2)"""

  /** Exact close price in cents (2-dp double → decimal grid → long). */
  private val closeCents: Column =
    (col("close").cast(DecimalType(25, 2)) * 100).cast("long")

  private val CcSql = "CAST(CAST(close AS DECIMAL(25,2)) * 100 AS BIGINT)"

  // ------------------------------------------------------------------ VWAP
  /** Daily volume-weighted average price: Σ(price·qty)/Σqty per (user, day).
    * The price·qty products stay on the 2-dp decimal grid (qty is integral),
    * sum exactly, and the single IEEE division at the end is bit-identical
    * in any engine. Zero total volume → null (ANSI division guard).
    */
  def vwapDaily(s: SparkSession, dir: String): DataFrame =
    Registry.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"),
        from_json(col("props"), StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
      .groupBy("user_id", "day")
      .agg(
        dsum(col("value") * col("k"), 2).as("pv"),
        sum("k").as("qty"),
        count(lit(1)).as("n_trades"))
      .select(col("user_id"), col("day"),
        when(col("qty") =!= 0, col("pv") / col("qty")).as("vwap"),
        col("qty"), col("n_trades"))
      .orderBy("user_id", "day")

  private val vwapDailyOracle = """
WITH e AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value,
    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT user_id, day,
  CASE WHEN CAST(sum(k) AS BIGINT) <> 0
    THEN CAST(sum(CAST(value * k AS DECIMAL(30,2))) AS DOUBLE)
           / CAST(sum(k) AS BIGINT) END AS vwap,
  CAST(sum(k) AS BIGINT) AS qty,
  count(*) AS n_trades
FROM e GROUP BY user_id, day ORDER BY user_id, day
"""

  // ------------------------------------------- rolling volatility (7 bars)
  /** Trailing-7-bar volatility of daily close *changes* (in currency units):
    * deltas in exact cents, windowed power sums on longs, sample stddev
    * assembled in double at the end. Changes (not relative returns) keep
    * every intermediate on the integer grid — a near-zero previous close
    * would blow a quantized return ratio past the long range.
    */
  def rollingVolatility(s: SparkSession, dir: String): DataFrame = {
    val wLag = Window.partitionBy("user_id").orderBy("day")
    val w7 = wLag.rowsBetween(-6, 0)
    daily(s, dir)
      .withColumn("cc", closeCents)
      .withColumn("delta", col("cc") - lag("cc", 1).over(wLag))
      .select(col("user_id"), col("day"),
        count("delta").over(w7).as("n_ret"),
        sum("delta").over(w7).as("s1"),
        sum(col("delta") * col("delta")).over(w7).as("s2"))
      .select(col("user_id"), col("day"), col("n_ret"),
        when(col("n_ret") >= 2,
          sqrt((col("n_ret") * col("s2") - col("s1") * col("s1"))
            .cast("double") / (col("n_ret") * (col("n_ret") - 1))) / 100)
          .as("vol7"))
      .orderBy("user_id", "day")
  }

  private val rollingVolatilityOracle = s"""
WITH $DailyCte,
d AS (SELECT user_id, day, $CcSql AS cc FROM daily),
dd AS (
  SELECT user_id, day,
    cc - lag(cc) OVER (PARTITION BY user_id ORDER BY day) AS delta
  FROM d),
wnd AS (
  SELECT user_id, day,
    count(delta) OVER w AS n_ret,
    CAST(sum(delta) OVER w AS BIGINT) AS s1,
    CAST(sum(delta * delta) OVER w AS BIGINT) AS s2
  FROM dd
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
SELECT user_id, day, n_ret,
  CASE WHEN n_ret >= 2 THEN
    sqrt(CAST(n_ret * s2 - s1 * s1 AS DOUBLE) / (n_ret * (n_ret - 1))) / 100
  END AS vol7
FROM wnd ORDER BY user_id, day
"""

  // ------------------------------------------------- Bollinger breakouts
  /** 7-bar Bollinger bands (mean ± 2σ of close) and the days the close
    * breaks out of them. Mean and σ come from exact cent power sums; the
    * band comparison runs on bit-identical doubles, so the breakout set
    * cannot flap between engines. Full windows only (n = 7) — early bars
    * have no meaningful band.
    */
  def bollingerBreakout(s: SparkSession, dir: String): DataFrame = {
    val w7 = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    daily(s, dir)
      .withColumn("cc", closeCents)
      .select(col("user_id"), col("day"), col("close"),
        count("cc").over(w7).as("n"),
        sum("cc").over(w7).as("s1"),
        sum(col("cc") * col("cc")).over(w7).as("s2"))
      .filter(col("n") === 7)
      .withColumn("mean7", col("s1").cast("double") / (col("n") * 100))
      .withColumn("sig7",
        sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double")
          / (col("n") * (col("n") - 1))) / 100)
      .filter(col("close") > col("mean7") + col("sig7") * 2 ||
        col("close") < col("mean7") - col("sig7") * 2)
      .select(col("user_id"), col("day"), col("close"), col("mean7"),
        col("sig7"),
        when(col("close") > col("mean7") + col("sig7") * 2, "up")
          .otherwise("down").as("dir"))
      .orderBy("user_id", "day")
  }

  private val bollingerBreakoutOracle = s"""
WITH $DailyCte,
d AS (SELECT user_id, day, close, $CcSql AS cc FROM daily),
wnd AS (
  SELECT user_id, day, close,
    count(cc) OVER w AS n,
    CAST(sum(cc) OVER w AS BIGINT) AS s1,
    CAST(sum(cc * cc) OVER w AS BIGINT) AS s2
  FROM d
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
bands AS (
  SELECT user_id, day, close,
    CAST(s1 AS DOUBLE) / (n * 100) AS mean7,
    sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1))) / 100 AS sig7
  FROM wnd WHERE n = 7)
SELECT user_id, day, close, mean7, sig7,
  CASE WHEN close > mean7 + 2 * sig7 THEN 'up' ELSE 'down' END AS dir
FROM bands
WHERE close > mean7 + 2 * sig7 OR close < mean7 - 2 * sig7
ORDER BY user_id, day
"""

  // ------------------------------------------------------- max drawdown
  /** Worst peak-to-trough drawdown per user: running max of close (exact
    * cents), drawdown quantized to 1e-4 % (floor of one IEEE division of
    * exact longs — identical everywhere), argmin by (drawdown, day). The
    * running max is an unbounded-preceding frame — O(1) state per row at
    * any history length.
    */
  def maxDrawdown(s: SparkSession, dir: String): DataFrame = {
    val wRun = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = daily(s, dir)
      .withColumn("cc", closeCents)
      .withColumn("runmax", max("cc").over(wRun))
      .withColumn("ddq",
        when(col("runmax") > 0,
          floor((col("cc") - col("runmax")) * 1000000 / col("runmax"))
            .cast("long")))
      .filter(col("ddq").isNotNull)
    val pick = Window.partitionBy("user_id")
      .orderBy(col("ddq").asc, col("day").asc)
    dd.withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day").as("trough_day"), col("ddq"),
        (col("ddq").cast("double") / 10000).as("drawdown_pct"))
      .orderBy("user_id")
  }

  private val maxDrawdownOracle = s"""
WITH $DailyCte,
d AS (SELECT user_id, day, $CcSql AS cc FROM daily),
run AS (
  SELECT user_id, day, cc,
    max(cc) OVER (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
  FROM d),
q AS (
  SELECT user_id, day,
    CAST(floor((cc - runmax) * 1000000 / runmax) AS BIGINT) AS ddq
  FROM run WHERE runmax > 0),
pick AS (
  SELECT user_id, day, ddq,
    row_number() OVER (PARTITION BY user_id ORDER BY ddq ASC, day ASC) AS rn
  FROM q)
SELECT user_id, day AS trough_day, ddq,
  CAST(ddq AS DOUBLE) / 10000 AS drawdown_pct
FROM pick WHERE rn = 1 ORDER BY user_id
"""

  // ---------------------------------------------------------------- RSI-14
  /** 14-bar RSI in its division-safe form: RSI = 100·Σgain/(Σgain+Σloss).
    * Gains/losses are exact cent longs, the windowed sums are exact, and
    * the single division (instead of the textbook RS = avgGain/avgLoss
    * nested form) keeps the result one IEEE op from integers. Flat
    * 14-bar stretches (Σgain+Σloss = 0) → null.
    */
  def rsi14(s: SparkSession, dir: String): DataFrame = {
    val wLag = Window.partitionBy("user_id").orderBy("day")
    val w14 = wLag.rowsBetween(-13, 0)
    daily(s, dir)
      .withColumn("cc", closeCents)
      .withColumn("delta", col("cc") - lag("cc", 1).over(wLag))
      .withColumn("gain", greatest(col("delta"), lit(0L)))
      .withColumn("loss", greatest(-col("delta"), lit(0L)))
      .select(col("user_id"), col("day"),
        count("delta").over(w14).as("n_ret"),
        sum("gain").over(w14).as("sg"),
        sum("loss").over(w14).as("sl"))
      .filter(col("n_ret") === 14)
      .select(col("user_id"), col("day"), col("sg"), col("sl"),
        when(col("sg") + col("sl") > 0,
          col("sg").cast("double") * 100 / (col("sg") + col("sl")))
          .as("rsi14"))
      .orderBy("user_id", "day")
  }

  private val rsi14Oracle = s"""
WITH $DailyCte,
d AS (SELECT user_id, day, $CcSql AS cc FROM daily),
dd AS (
  SELECT user_id, day,
    cc - lag(cc) OVER (PARTITION BY user_id ORDER BY day) AS delta
  FROM d),
gl AS (
  SELECT user_id, day, delta,
    greatest(delta, 0) AS gain, greatest(-delta, 0) AS loss
  FROM dd),
wnd AS (
  SELECT user_id, day,
    count(delta) OVER w AS n_ret,
    CAST(sum(gain) OVER w AS BIGINT) AS sg,
    CAST(sum(loss) OVER w AS BIGINT) AS sl
  FROM gl
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT user_id, day, sg, sl,
  CASE WHEN sg + sl > 0 THEN CAST(sg AS DOUBLE) * 100 / (sg + sl) END AS rsi14
FROM wnd WHERE n_ret = 14 ORDER BY user_id, day
"""

  // ------------------------------------------------------------- EWMA(10)
  /** 10-bar exponentially weighted moving average with α = 1/2, computed as
    * an exact rational: integer weights 2⁹…2⁰ on the last 10 closes in
    * cents, one final division by the weight mass actually present. A lag
    * chain (not collect_list + a per-element lambda) keeps the whole thing
    * inside one window pass and whole-stage codegen.
    */
  def ewma10(s: SparkSession, dir: String): DataFrame = {
    val wLag = Window.partitionBy("user_id").orderBy("day")
    val lags: Seq[Column] = (0 until 10).map { i =>
      if (i == 0) col("cc") else lag("cc", i).over(wLag)
    }
    val weights: Seq[Long] = (0 until 10).map(i => 1L << (9 - i))
    val num = lags.zip(weights).map { case (l, w) =>
      coalesce(l, lit(0L)) * lit(w)
    }.reduce(_ + _)
    val den = lags.zip(weights).map { case (l, w) =>
      when(l.isNull, 0L).otherwise(w)
    }.reduce(_ + _)
    daily(s, dir)
      .withColumn("cc", closeCents)
      .withColumn("num", num)
      .withColumn("den", den)
      .select(col("user_id"), col("day"),
        (col("num").cast("double") / (col("den") * 100)).as("ewma10"))
      .orderBy("user_id", "day")
  }

  private val ewma10Oracle = {
    val lagTerm = (i: Int) =>
      if (i == 0) "cc"
      else s"lag(cc, $i) OVER (PARTITION BY user_id ORDER BY day)"
    val num = (0 until 10)
      .map(i => s"coalesce(${lagTerm(i)}, 0) * ${1L << (9 - i)}")
      .mkString(" + ")
    val den = (0 until 10)
      .map(i =>
        s"CASE WHEN ${lagTerm(i)} IS NULL THEN 0 ELSE ${1L << (9 - i)} END")
      .mkString(" + ")
    s"""
WITH $DailyCte,
d AS (SELECT user_id, day, $CcSql AS cc FROM daily),
w AS (SELECT user_id, day, $num AS num, $den AS den FROM d)
SELECT user_id, day, CAST(num AS DOUBLE) / (den * 100) AS ewma10
FROM w ORDER BY user_id, day
"""
  }

  // ------------------------------------------- calendar resample + ffill
  /** Upsample each user's bars onto their full trading calendar (date spine
    * via `sequence` + explode) and forward-fill missing closes with the
    * last observed value (`last(..., ignoreNulls)` over an
    * unbounded-preceding frame). The reference's watermark logic walks a
    * driver-side date range for the same reason (`meta_process.py:86-98`);
    * this is the relational, per-key form. The spine is generated from a
    * 2-column aggregate — at 100 TB the explode output is |users|·|days|,
    * independent of tick count.
    */
  def resampleFfill(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir).select("user_id", "day", "close")
    val spine = d.groupBy("user_id")
      .agg(min("day").as("lo"), max("day").as("hi"))
      .select(col("user_id"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 day")))
          .as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(d, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        last("close", ignoreNulls = true).over(w).as("close_ffill"),
        col("close").isNull.cast("long").as("was_gap"))
      .orderBy("user_id", "day")
  }

  private val resampleFfillOracle = s"""
WITH $DailyCte,
spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
  FROM (SELECT user_id, min(day) AS lo, max(day) AS hi
        FROM daily GROUP BY user_id)),
j AS (
  SELECT s.user_id, s.day, d.close
  FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day)
SELECT user_id, day,
  last_value(close IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill,
  CAST(close IS NULL AS BIGINT) AS was_gap
FROM j ORDER BY user_id, day
"""

  // ------------------------------------------- sequential pattern match
  /** MATCH_RECOGNIZE-style sequential pattern detection, composed from
    * lag/lead (Spark has no row-pattern clause): a strict V-bottom in a
    * user's daily close series — two strictly-falling closes into day t,
    * two strictly-rising closes out of it. Pure comparison logic over the
    * five aligned rows, NO arithmetic on the double closes (comparisons
    * are total and engine-identical; derived depths would invite
    * float-ordering questions for no analytic gain — the five closes ship
    * instead). One window spec serves all four shifts, so the plan is a
    * single user-keyed sort; the pattern filter is a plain conjunctive
    * predicate above it. At 100 TB the bars relation is tiny relative to
    * ticks (see object scaladoc) and the pattern pass adds no exchange
    * beyond the bars build.
    */
  def patternVBottom(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    daily(s, dir)
      .select(col("user_id"), col("day"), col("close"),
        lag("close", 2).over(w).as("prev2"),
        lag("close", 1).over(w).as("prev1"),
        lead("close", 1).over(w).as("next1"),
        lead("close", 2).over(w).as("next2"))
      .filter(col("prev2") > col("prev1") && col("prev1") > col("close") &&
        col("next1") > col("close") && col("next2") > col("next1"))
      .orderBy("user_id", "day")
  }

  private val patternVBottomOracle = s"""
WITH $DailyCte,
shifted AS (
  SELECT user_id, day, close,
    lag(close, 2) OVER w AS prev2,
    lag(close, 1) OVER w AS prev1,
    lead(close, 1) OVER w AS next1,
    lead(close, 2) OVER w AS next2
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY day))
SELECT user_id, day, close, prev2, prev1, next1, next2
FROM shifted
WHERE prev2 > prev1 AND prev1 > close AND next1 > close AND next2 > next1
ORDER BY user_id, day
"""

  // ------------------------------------------- seasonal decomposition
  /** Classical additive seasonal decomposition (moving-average detrend →
    * day-of-week seasonal means → residual; the STL-shaped pipeline every
    * stats library ships) over the GLOBAL daily revenue series from
    * `orders` — the one ts query here on the order fact rather than the
    * event ticks, because its 2.4k-day span gives the weekly component
    * ~340 observations per weekday. All state exact integers: trend is
    * the centered 7-day window sum over daily cents (full windows only —
    * edges keep null trend/residual rather than a biased partial mean),
    * the detrended series is held as the numerator over the COMMON
    * denominator 7 (`7·cents − sum7`), so the per-weekday seasonal mean
    * is again one exact integer ratio, and residual = detr/700 −
    * s_num/(s_n·700) — two exact-int divisions and one subtraction, the
    * identical IEEE op sequence in the oracle. Day-of-week is computed
    * ARITHMETICALLY (days since an anchor, mod 7) because DuckDB and
    * Spark number weekdays differently — and both sides use a FLOORED
    * mod (`pmod` here, `((x % 7) + 7) % 7` in the oracle), since DuckDB's
    * bare `%` takes the dividend's sign and would split residue classes
    * differently for dates before the anchor. Scale: one partial-aggregated
    * shuffle collapses the fact to ≤ one row per day; the unpartitioned
    * 7-row window runs on that date grid (bounded-input class, like the
    * other calendar spines).
    */
  def seasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val d = Registry.table(s, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum((col("o_totalprice").cast(DecimalType(25, 2)) * 100)
        .cast("long")).as("cents"))
    val w = Window.orderBy("day").rowsBetween(-3, 3)
    val det = d
      .withColumn("sum7", sum("cents").over(w))
      .withColumn("cnt7", count(lit(1)).over(w))
      .withColumn("dow",
        pmod(datediff(col("day"), to_date(lit("1995-01-01"))), lit(7))
          .cast("long"))
      .withColumn("detr_num",
        when(col("cnt7") === 7, col("cents") * 7 - col("sum7")))
    val seas = det.filter(col("cnt7") === 7)
      .groupBy("dow")
      .agg(sum("detr_num").as("s_num"), count(lit(1)).as("s_n"))
    det.join(broadcast(seas), Seq("dow"), "left_outer")
      .select(col("day"),
        (col("cents").cast("double") / 100).as("revenue"),
        when(col("cnt7") === 7, col("sum7").cast("double") / 700).as("trend"),
        (col("s_num").cast("double") / (col("s_n") * 700)).as("seasonal"),
        when(col("cnt7") === 7,
          col("detr_num").cast("double") / 700 -
            col("s_num").cast("double") / (col("s_n") * 700)).as("residual"))
      .orderBy("day")
  }

  private val seasonalDecomposeOracle = """
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT))
      AS BIGINT) AS cents
  FROM orders GROUP BY 1),
t AS (
  SELECT day, cents,
    CAST(sum(cents) OVER w AS BIGINT) AS sum7,
    CAST(count(*) OVER w AS BIGINT) AS cnt7,
    CAST((((day - DATE '1995-01-01') % 7) + 7) % 7 AS BIGINT) AS dow
  FROM d
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
det AS (
  SELECT t.*, CASE WHEN cnt7 = 7 THEN cents * 7 - sum7 END AS detr_num
  FROM t),
seas AS (
  SELECT dow, CAST(sum(detr_num) AS BIGINT) AS s_num,
    CAST(count(detr_num) AS BIGINT) AS s_n
  FROM det WHERE cnt7 = 7 GROUP BY dow)
SELECT det.day,
  CAST(det.cents AS DOUBLE) / 100 AS revenue,
  CASE WHEN det.cnt7 = 7 THEN CAST(det.sum7 AS DOUBLE) / 700 END AS trend,
  CAST(s.s_num AS DOUBLE) / (s.s_n * 700) AS seasonal,
  CASE WHEN det.cnt7 = 7 THEN
    CAST(det.detr_num AS DOUBLE) / 700 -
      CAST(s.s_num AS DOUBLE) / (s.s_n * 700) END AS residual
FROM det LEFT JOIN seas s ON s.dow = det.dow
ORDER BY det.day
"""

  // ------------------------------------------------------------- CUSUM
  /** CUSUM change-point monitor over the per-type daily event counts — the
    * classic sequential drift detector (Page 1954): one-sided cumulative
    * sums of deviations from a per-type target,
    * `S⁺_i = max(0, S⁺_{i−1} + dev_i)` / `S⁻_i = max(0, S⁻_{i−1} − dev_i)`,
    * alarming when either exceeds a decision threshold. A level shift that
    * per-day z-scores miss (each day individually within noise)
    * accumulates here until it crosses h — the monitor that catches slow
    * regressions in an ingest pipeline.
    *
    * The recursion is NOT expressed iteratively: the running-extremum
    * identity `S⁺_i = C_i − min(0, min_{j≤i} C_j)` (C = prefix sum of
    * deviations) turns it into two stacked windows over the same
    * (event_type → day) partitioning — one exchange, frames bounded by
    * the per-type day spine. The target is the per-type mean on the
    * floored per-mille grid (`sum·1000 div n` — an OFFLINE/retrospective
    * CUSUM; a live deployment freezes the target from a reference
    * window), so deviations, prefix sums, and both statistics stay exact
    * int64 and the alarm booleans cannot flap cross-engine. The daily
    * base is the session-memoized [[QualityOps.dailyEventCounts]] the
    * other three anomaly monitors share. h = 30000 (30 events of
    * cumulative drift on the per-mille grid) alarms a real subset of
    * (type, day) rows at every SF.
    */
  def cusumAlarm(s: SparkSession, dir: String): DataFrame = {
    val H = 30000L
    val daily = QualityOps.dailyEventCounts(s, dir)
    val mean = daily.groupBy("event_type")
      .agg(expr("sum(n_events) * 1000 div count(1)").as("mean_m"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(mean), "event_type")
      .withColumn("dev", col("n_events") * 1000 - col("mean_m"))
      .withColumn("cum", sum("dev").over(w))
      .withColumn("spos", col("cum") - least(lit(0L), min("cum").over(w)))
      .withColumn("sneg", greatest(lit(0L), max("cum").over(w)) - col("cum"))
      .select(col("event_type"), col("day"), col("n_events"),
        col("spos").as("cusum_pos_m"), col("sneg").as("cusum_neg_m"),
        (col("spos") > H || col("sneg") > H).as("alarm"))
      .orderBy("event_type", "day")
  }

  private val cusumAlarmOracle = """
WITH e AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2),
m AS (
  SELECT event_type, CAST(sum(n_events) * 1000 AS BIGINT) // count(*)
    AS mean_m
  FROM e GROUP BY 1),
c AS (
  SELECT e.event_type, day, n_events,
    CAST(sum(n_events * 1000 - mean_m) OVER w AS BIGINT) AS cum
  FROM e JOIN m USING (event_type)
  WINDOW w AS (PARTITION BY e.event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
c2 AS (
  SELECT *, cum - least(0, CAST(min(cum) OVER w2 AS BIGINT)) AS spos,
    greatest(0, CAST(max(cum) OVER w2 AS BIGINT)) - cum AS sneg
  FROM c
  WINDOW w2 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_type, day, n_events, spos AS cusum_pos_m, sneg AS cusum_neg_m,
  spos > 30000 OR sneg > 30000 AS alarm
FROM c2 ORDER BY event_type, day
"""

  val queries: Map[String, QueryDef] = Map(
    "ts_cusum_alarm" -> QueryDef(cusumAlarm, Some(cusumAlarmOracle)),
    "ts_seasonal_decompose" ->
      QueryDef(seasonalDecompose, Some(seasonalDecomposeOracle)),
    "ts_pattern_vbottom" ->
      QueryDef(patternVBottom, Some(patternVBottomOracle)),
    "ts_vwap_daily" -> QueryDef(vwapDaily, Some(vwapDailyOracle)),
    "ts_rolling_volatility" ->
      QueryDef(rollingVolatility, Some(rollingVolatilityOracle)),
    "ts_bollinger_breakout" ->
      QueryDef(bollingerBreakout, Some(bollingerBreakoutOracle)),
    "ts_max_drawdown" -> QueryDef(maxDrawdown, Some(maxDrawdownOracle)),
    "ts_rsi14" -> QueryDef(rsi14, Some(rsi14Oracle)),
    "ts_ewma10" -> QueryDef(ewma10, Some(ewma10Oracle)),
    "ts_resample_ffill" -> QueryDef(resampleFfill, Some(resampleFfillOracle))
  )
}
