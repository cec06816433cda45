package graft.ops

import graft.{QueryDef, Registry}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality operators — the validation layer that gates every ingest
  * at scale: a per-column profile (null/distinct accounting) and a rule
  * ("expectations") audit with violation counts. Both are single-pass
  * aggregations (plus one broadcast-able anti-join for the FK rule), so
  * profiling 100 TB costs one scan.
  */
object QualityOps {

  /** Per-(event_type, day) event counts — the time series all three
    * anomaly monitors (z-score, MAD, seasonal) score against. One
    * O(events) scan+group per (session, corpus) instead of one per
    * monitor (the shared-base memo discipline; unfiltered, so each
    * monitor's own statistics are untouched — the hash gate and a
    * Round10PropertySpec law pin it).
    */
  private val dailyCache = new graft.FrameMemo

  private[graft] def dailyEventCounts(
      s: SparkSession, dir: String): DataFrame =
    dailyCache.getOrElseUpdate(s, dir) {
      Registry.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
    }

  // ------------------------------------------------------- column profile
  /** Profile of the `orders` columns: nulls and exact distinct counts per
    * column, melted to one row per column. One plain pass for the null
    * counts plus one SINGLE-distinct aggregate per column (r14, guide
    * §2.2/§2.3): the earlier all-in-one aggregate made Catalyst plan
    * Expand — every scan row replicated once per distinct column (4×)
    * into wide partial-agg rows, so the exchange carried ~5× the fact
    * rows with a 5-column grouping key. Split, each distinct pass scans
    * exactly one parquet column (columnar pruning makes N single-column
    * scans ≈ one N-column scan in I/O) and shuffles bare deduped values;
    * a lone countDistinct plans as two stacked aggregates, never Expand.
    * The five 1-row results recombine by broadcast cross join.
    */
  def profileOrders(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority")
    def nNull(c: String): Column =
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c")
    val o = Registry.table(s, dir, "orders")
    val base = o.agg(count(lit(1)).as("n_rows"), cols.map(nNull): _*)
    val one = cols.foldLeft(base)((acc, c) =>
      acc.crossJoin(broadcast(
        o.agg(countDistinct(col(c)).as(s"dist_$c")))))
    one.select(explode(map(
        cols.flatMap(c => Seq(lit(c),
          struct(col(s"null_$c").as("n_nulls"),
            col(s"dist_$c").as("n_distinct"), col("n_rows")))): _*))
      .as(Seq("col_name", "m")))
      .select(col("col_name"), col("m.n_nulls"), col("m.n_distinct"),
        col("m.n_rows"))
      .orderBy("col_name")
  }

  private val profileOracle = """
WITH a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nk,
    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS dk,
    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nc,
    CAST(count(DISTINCT o_custkey) AS BIGINT) AS dc,
    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ns,
    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS ds,
    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS np,
    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS dp
  FROM orders)
SELECT 'o_orderkey' AS col_name, nk AS n_nulls, dk AS n_distinct, n_rows FROM a
UNION ALL
SELECT 'o_custkey', nc, dc, n_rows FROM a
UNION ALL
SELECT 'o_orderstatus', ns, ds, n_rows FROM a
UNION ALL
SELECT 'o_orderpriority', np, dp, n_rows FROM a
ORDER BY col_name
"""

  // ----------------------------------------------------- expectation audit
  /** Rule audit over `orders` — the expectations a load would gate on:
    * non-null key, positive totals, status domain, and referential
    * integrity of custkey against `customer` (left-anti join; the dimension
    * broadcasts). Violation counts, one output row per rule — at scale the
    * audit is one scan plus one broadcast probe.
    */
  def expectations(s: SparkSession, dir: String): DataFrame = {
    val o = Registry.table(s, dir, "orders")
    val scanRules = o.agg(
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
        .as("null_orderkey"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
        .as("nonpositive_total"),
      sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L))
        .as("status_out_of_domain"))
    val orphans = o.join(
        // key set scales with the corpus (15M at sf100): anti-join by
        // AQE stats, not a forced broadcast — r15 audit
        Registry.table(s, dir, "customer").select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_custkey"))
    scanRules.crossJoin(orphans)
      .select(explode(map(
        lit("null_orderkey"), col("null_orderkey"),
        lit("nonpositive_total"), col("nonpositive_total"),
        lit("status_out_of_domain"), col("status_out_of_domain"),
        lit("orphan_custkey"), col("orphan_custkey")))
        .as(Seq("rule", "violations")))
      .orderBy("rule")
  }

  private val expectationsOracle = """
WITH a AS (
  SELECT
    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS null_orderkey,
    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS nonpositive_total,
    CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END)
      AS BIGINT) AS status_out_of_domain,
    (SELECT CAST(count(*) AS BIGINT) FROM orders o
     WHERE NOT EXISTS (SELECT 1 FROM customer c
                       WHERE c.c_custkey = o.o_custkey)) AS orphan_custkey
  FROM orders)
SELECT 'null_orderkey' AS rule, null_orderkey AS violations FROM a
UNION ALL SELECT 'nonpositive_total', nonpositive_total FROM a
UNION ALL SELECT 'status_out_of_domain', status_out_of_domain FROM a
UNION ALL SELECT 'orphan_custkey', orphan_custkey FROM a
ORDER BY rule
"""

  // ------------------------------------------------- volume anomaly scan
  /** Ingest-volume anomaly detection — the drift monitor a production
    * pipeline runs per partition landing: daily event counts per type,
    * z-scored against that type's own history. One fact pass aggregates to
    * the (type, day) grid; the per-type mean/stddev then derive from exact
    * integer power sums over that TINY grid (never a second corpus pass)
    * and broadcast-join back. The z computation is a fixed IEEE op
    * sequence on exact integers, so the ±2σ anomaly cut is bit-identical
    * cross-engine — a flagged day can't flap.
    */
  def anomalyZscore(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyEventCounts(s, dir)
    val stats = daily.groupBy("event_type").agg(
      count(lit(1)).cast("double").as("nd"),
      sum("n_events").cast("double").as("s1"),
      sum(col("n_events") * col("n_events")).cast("double").as("s2"))
    val mean = col("s1") / col("nd")
    val variance =
      (col("s2") - col("s1") * col("s1") / col("nd")) / (col("nd") - 1)
    // degenerate histories are NOT anomalies: a type active on a single
    // day (nd=1) or with constant daily volume (variance=0) has no z —
    // without the guard the NaN/Inf z compares above 2.0 in both engines
    // and such days get silently flagged
    val defined = col("nd") > 1 && variance > 0
    val z = when(defined,
      (col("n_events").cast("double") - mean) / sqrt(variance))
    daily.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("day"), col("n_events"),
        z.as("zscore"), coalesce(abs(z) >= 2.0, lit(false)).as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  private val anomalyZscoreOracle = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type,
    CAST(count(*) AS DOUBLE) AS nd,
    CAST(CAST(sum(n_events) AS BIGINT) AS DOUBLE) AS s1,
    CAST(CAST(sum(n_events * n_events) AS BIGINT) AS DOUBLE) AS s2
  FROM daily GROUP BY event_type)
SELECT d.event_type, d.day, d.n_events,
  CASE WHEN nd > 1 AND (s2 - s1 * s1 / nd) / (nd - 1) > 0
       THEN (CAST(d.n_events AS DOUBLE) - s1 / nd)
            / sqrt((s2 - s1 * s1 / nd) / (nd - 1)) END AS zscore,
  coalesce(abs(CASE WHEN nd > 1 AND (s2 - s1 * s1 / nd) / (nd - 1) > 0
       THEN (CAST(d.n_events AS DOUBLE) - s1 / nd)
            / sqrt((s2 - s1 * s1 / nd) / (nd - 1)) END) >= 2.0, false)
    AS is_anomaly
FROM daily d JOIN stats s ON s.event_type = d.event_type
ORDER BY d.event_type, day
"""

  // --------------------------------------------- robust (MAD) anomaly scan
  /** Exact lower-median of `v` per key group by histogram selection — the
    * kernel the MAD and seasonal monitors share (was hand-copied in both).
    */
  private def medianBy(df: DataFrame, keys: Seq[String], v: String,
      out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df.groupBy((keys :+ v).map(col): _*)
      .agg(count(lit(1)).as("c_"))
    val wC = Window.partitionBy(keys.map(col): _*).orderBy(v)
    val wA = Window.partitionBy(keys.map(col): _*)
    hist.withColumn("cum", sum("c_").over(wC))
      .withColumn("n", sum("c_").over(wA))
      .groupBy(keys.map(col): _*)
      .agg(min(when(col("cum") >= ceil(col("n") * 0.5), col(v))).as(out))
  }

  /** Robust twin of [[anomalyZscore]]: daily volumes flagged by MEDIAN
    * absolute deviation instead of mean/stddev — a single wild day cannot
    * drag the baseline the way it inflates a standard deviation. Both
    * medians (per-type daily median, then median of absolute deviations)
    * use the histogram-selection kernel over the TINY (type, day) grid —
    * one fact pass total, checkpointed. The σ-consistent 3σ-equivalent
    * cut |x − med| > 3·1.4826·MAD is decided as the exact integer
    * comparison |x − med|·10000 > MAD·44478 — no float anywhere.
    */
  def anomalyMad(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyEventCounts(s, dir)
    val med = medianBy(daily, Seq("event_type"), "n_events", "med")
    val withDev = daily.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("n_events") - col("med")))
    val mad = medianBy(withDev, Seq("event_type"), "adev", "mad")
    withDev.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("day"), col("n_events"),
        col("med"), col("mad"),
        (col("adev") * 10000 > col("mad") * 44478).as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  private val anomalyMadOracle = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY 1, 2),
h1 AS (
  SELECT event_type, n_events AS v, count(*) AS c_ FROM daily GROUP BY 1, 2),
m1 AS (
  SELECT event_type, min(CASE WHEN cum >= ceil(n * 0.5) THEN v END) AS med
  FROM (SELECT event_type, v,
          sum(c_) OVER (PARTITION BY event_type ORDER BY v) AS cum,
          sum(c_) OVER (PARTITION BY event_type) AS n
        FROM h1)
  GROUP BY event_type),
dev AS (
  SELECT d.event_type, d.day, d.n_events, m1.med,
    abs(d.n_events - m1.med) AS adev
  FROM daily d JOIN m1 USING (event_type)),
h2 AS (
  SELECT event_type, adev AS v, count(*) AS c_ FROM dev GROUP BY 1, 2),
m2 AS (
  SELECT event_type, min(CASE WHEN cum >= ceil(n * 0.5) THEN v END) AS mad
  FROM (SELECT event_type, v,
          sum(c_) OVER (PARTITION BY event_type ORDER BY v) AS cum,
          sum(c_) OVER (PARTITION BY event_type) AS n
        FROM h2)
  GROUP BY event_type)
SELECT dev.event_type, dev.day, dev.n_events, dev.med, m2.mad,
  dev.adev * 10000 > m2.mad * 44478 AS is_anomaly
FROM dev JOIN m2 USING (event_type)
ORDER BY dev.event_type, dev.day
"""

  // --------------------------------------- seasonal (day-of-week) anomaly
  /** Seasonality-aware twin of [[anomalyMad]]: weekly traffic has a
    * day-of-week shape, and a raw-median monitor flags every quiet Sunday.
    * Baseline = per-(type, weekday) MEDIAN daily volume (the seasonal
    * profile); residual = day − its weekday median; flag
    * |residual − median(residual)| > 3·1.4826·MAD(residuals) — the PROPER
    * MAD about the per-type residual median, which is what the 1.4826
    * σ-consistency constant is calibrated for. (An earlier form took
    * median(|resid|) about zero; lower-median weekday baselines skew
    * residuals positive, so that loosened the cut whenever the residual
    * median was nonzero.) Same histogram-median kernel over the TINY
    * (type, day) grid, one fact pass (checkpointed), and the cut is the
    * exact integer compare |r − rmed|·10000 > MAD·44478 — no float
    * anywhere, so the flag cannot flap cross-engine.
    */
  def anomalySeasonal(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyEventCounts(s, dir)
      .withColumn("dow", dayofweek(col("day")).cast("long"))
    val seasonal = medianBy(daily, Seq("event_type", "dow"), "n_events", "smed")
    val withResid = daily.join(broadcast(seasonal), Seq("event_type", "dow"))
      .withColumn("resid", col("n_events") - col("smed"))
    val rmed = medianBy(withResid, Seq("event_type"), "resid", "rmed")
    val centered = withResid.join(broadcast(rmed), "event_type")
      .withColumn("cdev", abs(col("resid") - col("rmed")))
    val mad = medianBy(centered, Seq("event_type"), "cdev", "mad")
    centered.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("day"), col("dow"), col("n_events"),
        col("smed"), col("resid"),
        (col("cdev") * 10000 > col("mad") * 44478).as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  // DuckDB dayofweek is 0-based (Sunday=0); Spark's is 1-based (Sunday=1)
  private val anomalySeasonalOracle = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events,
    CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow
  FROM events GROUP BY 1, 2),
h1 AS (
  SELECT event_type, dow, n_events AS v, count(*) AS c_
  FROM daily GROUP BY 1, 2, 3),
m1 AS (
  SELECT event_type, dow,
    min(CASE WHEN cum >= ceil(n * 0.5) THEN v END) AS smed
  FROM (SELECT event_type, dow, v,
          sum(c_) OVER (PARTITION BY event_type, dow ORDER BY v) AS cum,
          sum(c_) OVER (PARTITION BY event_type, dow) AS n
        FROM h1)
  GROUP BY 1, 2),
dev AS (
  SELECT d.event_type, d.day, d.dow, d.n_events, m1.smed,
    d.n_events - m1.smed AS resid
  FROM daily d JOIN m1 USING (event_type, dow)),
-- proper MAD: center residuals on their per-type median first (the
-- 1.4826 constant's calibration), then take the median absolute deviation
hr AS (
  SELECT event_type, resid AS v, count(*) AS c_ FROM dev GROUP BY 1, 2),
mr AS (
  SELECT event_type, min(CASE WHEN cum >= ceil(n * 0.5) THEN v END) AS rmed
  FROM (SELECT event_type, v,
          sum(c_) OVER (PARTITION BY event_type ORDER BY v) AS cum,
          sum(c_) OVER (PARTITION BY event_type) AS n
        FROM hr)
  GROUP BY event_type),
cdev AS (
  SELECT dev.*, abs(dev.resid - mr.rmed) AS cd
  FROM dev JOIN mr USING (event_type)),
h2 AS (
  SELECT event_type, cd AS v, count(*) AS c_ FROM cdev GROUP BY 1, 2),
m2 AS (
  SELECT event_type, min(CASE WHEN cum >= ceil(n * 0.5) THEN v END) AS mad
  FROM (SELECT event_type, v,
          sum(c_) OVER (PARTITION BY event_type ORDER BY v) AS cum,
          sum(c_) OVER (PARTITION BY event_type) AS n
        FROM h2)
  GROUP BY event_type)
SELECT cdev.event_type, cdev.day, cdev.dow, cdev.n_events, cdev.smed,
  cdev.resid,
  cdev.cd * 10000 > m2.mad * 44478 AS is_anomaly
FROM cdev JOIN m2 USING (event_type)
ORDER BY cdev.event_type, cdev.day
"""

  // --------------------------------------------------------- drift profile
  /** Temporal data-drift profile: split `orders` at the midpoint of its
    * date range and compare per-column summary statistics between the two
    * halves — the snapshot-over-snapshot check a pipeline runs to catch
    * upstream distribution shifts before they poison a training mix. (The
    * KS test in StatsOps is the distributional sibling; this is the
    * cheap per-metric screen run first.)
    *
    * The split point is DATA-DRIVEN — `(min_day + max_day) div 2` epoch
    * days from a 1-row broadcast — so the query is scale- and
    * window-agnostic. Each half reduces in ONE conditional aggregation
    * pass (count / exact cent sum / distinct customers / distinct
    * priorities), then the metric×period matrix is melted to one row per
    * metric. Drift is reported in exact parts-per-million:
    * |v₂−v₁|·10⁶ div max(v₁,1) — pure int64 (values ≤ 10¹² leave 10⁶
    * headroom), no float anywhere.
    */
  def driftProfile(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice")
      .cast(org.apache.spark.sql.types.DecimalType(30, 2)) * 100)
      .cast("long")
    val o = Registry.table(s, dir, "orders")
      .select(datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01")))
          .cast("long").as("day"),
        cents.as("c"), col("o_custkey"), col("o_orderpriority"))
    val mid = o.agg(expr("(min(day) + max(day)) div 2").as("mid"))
    val half = o.crossJoin(broadcast(mid))
      .withColumn("p", when(col("day") < col("mid"), 1L).otherwise(2L))
    // single-distinct aggregates per pass (r14, same Expand-removal as
    // [[profileOrders]]): the combined form replicated every order row 3×
    // through Expand; each split pass shuffles only its own deduped
    // column, and the two distinct passes join back on the 2-row period
    // key. AQE reuses the broadcast mid stage across the three arms.
    val per = half.groupBy("p")
      .agg(count(lit(1)).as("row_count"),
        expr("sum(c) div count(1)").as("mean_cents"))
      .join(half.groupBy("p")
        .agg(countDistinct(col("o_custkey")).as("distinct_customers")), "p")
      .join(half.groupBy("p")
        .agg(countDistinct(col("o_orderpriority"))
          .as("distinct_priorities")), "p")
    val metrics =
      Seq("row_count", "mean_cents", "distinct_customers",
        "distinct_priorities")
    per.select(col("p"), explode(map(
        metrics.flatMap(mc => Seq(lit(mc), col(mc))): _*))
        .as(Seq("metric", "v")))
      .groupBy("metric")
      .agg(max(when(col("p") === 1, col("v"))).as("v_first"),
        max(when(col("p") === 2, col("v"))).as("v_second"))
      .withColumn("drift_ppm",
        expr("(abs(v_second - v_first) * 1000000) div greatest(v_first, 1)"))
      .orderBy("metric")
  }

  private val driftOracle = """
WITH o AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
      AS day,
    CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS c,
    o_custkey, o_orderpriority
  FROM orders),
mid AS (SELECT (min(day) + max(day)) // 2 AS mid FROM o),
half AS (
  SELECT CASE WHEN day < mid THEN 1 ELSE 2 END AS p, c, o_custkey,
    o_orderpriority
  FROM o CROSS JOIN mid),
per AS (
  SELECT p, CAST(count(*) AS BIGINT) AS row_count,
    CAST(sum(c) AS BIGINT) // count(*) AS mean_cents,
    CAST(count(DISTINCT o_custkey) AS BIGINT) AS distinct_customers,
    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS distinct_priorities
  FROM half GROUP BY p),
melted AS (
  SELECT p, 'row_count' AS metric, row_count AS v FROM per
  UNION ALL SELECT p, 'mean_cents', mean_cents FROM per
  UNION ALL SELECT p, 'distinct_customers', distinct_customers FROM per
  UNION ALL SELECT p, 'distinct_priorities', distinct_priorities FROM per)
SELECT metric,
  max(CASE WHEN p = 1 THEN v END) AS v_first,
  max(CASE WHEN p = 2 THEN v END) AS v_second,
  (abs(max(CASE WHEN p = 2 THEN v END) - max(CASE WHEN p = 1 THEN v END))
    * 1000000) // greatest(max(CASE WHEN p = 1 THEN v END), 1) AS drift_ppm
FROM melted GROUP BY metric ORDER BY metric
"""

  // ---------------------------------------------------- freshness lag
  /** Per-feed freshness monitor — the first page of any pipeline
    * dashboard: each event type's latest event time, its lag behind the
    * freshest feed, and a staleness flag at the 24 h SLA. One map-side-
    * combined max per type + a 1-row broadcast of the global max; time
    * lives on the integer microsecond grid so the lag arithmetic is
    * exact (`div` for whole seconds).
    */
  def freshnessLag(s: SparkSession, dir: String): DataFrame = {
    val perType = Registry.events(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("last_micros"))
    val global = perType.agg(max("last_micros").as("global_micros"))
    perType.crossJoin(broadcast(global))
      .select(col("event_type"), col("n_events"),
        col("last_micros"),
        expr("(global_micros - last_micros) div 1000000")
          .as("lag_seconds"),
        (col("global_micros") - col("last_micros") >
          lit(86400L) * lit(1000000L)).as("stale_24h"))
      .orderBy("event_type")
  }

  private val freshnessOracle = """
WITH per_type AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
    CAST(max(epoch_us(ts)) AS BIGINT) AS last_micros
  FROM events GROUP BY event_type),
g AS (SELECT max(last_micros) AS global_micros FROM per_type)
SELECT event_type, n_events, last_micros,
  (global_micros - last_micros) // 1000000 AS lag_seconds,
  global_micros - last_micros > 86400 * CAST(1000000 AS BIGINT)
    AS stale_24h
FROM per_type, g ORDER BY event_type
"""

  val queries: Map[String, QueryDef] = Map(
    "dq_freshness_lag" -> QueryDef(freshnessLag, Some(freshnessOracle)),
    "dq_drift_profile" -> QueryDef(driftProfile, Some(driftOracle)),
    "dq_profile_orders" -> QueryDef(profileOrders, Some(profileOracle)),
    "dq_expectations" -> QueryDef(expectations, Some(expectationsOracle)),
    "dq_anomaly_zscore" -> QueryDef(anomalyZscore, Some(anomalyZscoreOracle)),
    "dq_anomaly_mad" -> QueryDef(anomalyMad, Some(anomalyMadOracle)),
    "dq_anomaly_seasonal" ->
      QueryDef(anomalySeasonal, Some(anomalySeasonalOracle))
  )
}
