package graft.ops

import graft.{QueryDef, Registry}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical aggregates, pivot, extended window functions, string
  * functions, and the relational form of the reference's date-gap logic.
  *
  * Streaming one-pass moment aggregates (stddev/corr built-ins) accumulate
  * floating error in engine-specific orders, so cross-engine stats are
  * derived from *exact decimal power sums* (Σx, Σx², Σxy — order-free) and
  * only then combined in IEEE double arithmetic: same inputs, same ops,
  * same bits in any engine. At scale this is also the cheaper plan: one
  * hash-agg pass producing a handful of exact sums.
  */
object StatsOps {
  import Registry.table

  // -------------------------------------------------------- moments / corr
  /** Mean, sample variance/stddev of extended price and quantity↔price
    * correlation per lineitem return flag, all from exact power sums.
    */
  def moments(s: SparkSession, dir: String): DataFrame = {
    val li = table(s, dir, "lineitem")
    // integer cent grid: every power sum is integral, so the final
    // decimal(30,0)→double cast is ONE conversion. Spark's (BigDecimal
    // .doubleValue) is correctly rounded at any magnitude; DuckDB's direct
    // hugeint→double cast is NOT once the sum needs int128 (observed one
    // ulp off at sf0.1 on an ~2^64 power sum), so every oracle-side cast
    // of these sums hops through VARCHAR — DuckDB's string→double parse IS
    // correctly rounded, which re-aligns the two engines bit-for-bit.
    // Summing decimal(30,2/4) instead would add an int128/10^s division
    // with its own rounding (seen at sf0.001 on corr/stddev).
    val pc = (col("l_extendedprice")
      .cast(org.apache.spark.sql.types.DecimalType(30, 2)) * lit(100))
      .cast("long")
    val q = col("l_quantity").cast("long")
    val n = count(lit(1)).cast("double")
    val sx = dsum(q, 0)
    val sxx = dsum(q * q, 0)
    val syc = dsum(pc, 0)
    val syyc = dsum(pc * pc, 0)
    val sxyc = dsum(q * pc, 0)
    li.groupBy("l_returnflag")
      .agg(
        n.cast("long").as("n"),
        (sx / n).as("mean_qty"),
        ((sxx - sx * sx / n) / (n - 1)).as("var_qty"),
        (sqrt((syyc - syc * syc / n) / (n - 1)) / 100).as("stddev_price"),
        ((n * sxyc - sx * syc) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syyc - syc * syc)))
          .as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  private val momentsOracle = """
WITH cents AS (
  SELECT l_returnflag,
    CAST(l_quantity AS BIGINT) AS q,
    CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS pc
  FROM lineitem),
sums AS (
  SELECT l_returnflag,
    CAST(count(*) AS DOUBLE) AS n,
    CAST(CAST(sum(CAST(q AS DECIMAL(30,0))) AS VARCHAR) AS DOUBLE) AS sx,
    CAST(CAST(sum(CAST(q * q AS DECIMAL(30,0))) AS VARCHAR) AS DOUBLE) AS sxx,
    CAST(CAST(sum(CAST(pc AS DECIMAL(30,0))) AS VARCHAR) AS DOUBLE) AS syc,
    CAST(CAST(sum(CAST(pc * pc AS DECIMAL(30,0))) AS VARCHAR) AS DOUBLE) AS syyc,
    CAST(CAST(sum(CAST(q * pc AS DECIMAL(30,0))) AS VARCHAR) AS DOUBLE) AS sxyc
  FROM cents GROUP BY l_returnflag)
SELECT l_returnflag,
  CAST(n AS BIGINT) AS n,
  sx / n AS mean_qty,
  (sxx - sx * sx / n) / (n - 1) AS var_qty,
  sqrt((syyc - syc * syc / n) / (n - 1)) / 100 AS stddev_price,
  (n * sxyc - sx * syc)
    / (sqrt(n * sxx - sx * sx) * sqrt(n * syyc - syc * syc)) AS corr_qty_price
FROM sums ORDER BY l_returnflag
"""

  // ------------------------------------------------------------------ pivot
  /** Pivot order status × priority into columns (Spark's `pivot` with an
    * explicit value list — never let the engine scan for distinct pivot
    * values at 100 TB). Oracle: conditional aggregation, the portable form.
    */
  def pivotStatus(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"), col("F").as("n_f"), col("O").as("n_o"),
        col("P").as("n_p"))
      .orderBy("o_orderpriority")

  private val pivotStatusOracle = """
SELECT o_orderpriority,
  count(*) FILTER (o_orderstatus = 'F') AS n_f,
  count(*) FILTER (o_orderstatus = 'O') AS n_o,
  count(*) FILTER (o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

  // -------------------------------------------------------- window family
  /** The wider window-function family over customer balances: rank,
    * dense_rank, percent_rank, cume_dist, ntile, running decimal sum —
    * all with a unique tiebreaker so every engine agrees.
    */
  def windowFamily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val running = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cdist"),
        ntile(4).over(w).cast("long").as("quartile"),
        sum(col("c_acctbal").cast(DecimalType(30, 2))).over(running)
          .cast("double").as("running_bal"))
      .filter(col("rn") <= 50)
      .orderBy("c_mktsegment", "rn")
  }

  private val windowFamilyOracle = """
SELECT * FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
    CAST(row_number() OVER w AS BIGINT) AS rn,
    CAST(rank() OVER w AS BIGINT) AS rnk,
    CAST(dense_rank() OVER w AS BIGINT) AS drnk,
    percent_rank() OVER w AS prnk,
    cume_dist() OVER w AS cdist,
    CAST(ntile(4) OVER w AS BIGINT) AS quartile,
    CAST(sum(CAST(c_acctbal AS DECIMAL(30,2)))
      OVER (PARTITION BY c_mktsegment
            ORDER BY c_acctbal DESC, c_custkey ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      AS running_bal
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment
               ORDER BY c_acctbal DESC, c_custkey ASC))
WHERE rn <= 50 ORDER BY c_mktsegment, rn
"""

  // ------------------------------------------------------ string functions
  /** Scalar string-function battery over part names (reference §2.8: absent
    * there, standard here): case mapping, substring, padding, regexp
    * replace/extract, split/element access, concat, translate, trim.
    */
  def stringFunctions(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_upper"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("key_padded"),
        regexp_replace(col("p_type"), "[aeiou]", "_").as("type_devoweled"),
        regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_first_word"),
        element_at(split(col("p_name"), " "), 1).as("name_first_token"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        translate(col("p_brand"), "#", "N").as("brand_translated"),
        length(trim(col("p_name"))).cast("long").as("name_len"))
      .orderBy("p_partkey")

  private val stringFunctionsOracle = """
SELECT p_partkey,
  upper(p_brand) AS brand_upper,
  substr(p_name, 1, 8) AS name_prefix,
  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
  regexp_replace(p_type, '[aeiou]', '_', 'g') AS type_devoweled,
  regexp_extract(p_type, '^(\w+)', 1) AS type_first_word,
  string_split(p_name, ' ')[1] AS name_first_token,
  concat_ws('|', p_brand, p_type) AS brand_type,
  replace(p_brand, '#', 'N') AS brand_translated,
  CAST(length(trim(p_name)) AS BIGINT) AS name_len
FROM part ORDER BY p_partkey
"""

  // ----------------------------------------- relational date-gap (E4 + A2)
  /** The reference's watermark gap-detection (`meta_process.py:86-98`) as a
    * *relational* operator: generate the calendar with `sequence` + explode,
    * anti-join against observed order dates → missing dates. This is the
    * form that scales (the MetaStore does it driver-side for parity with
    * tiny state).
    */
  def missingDates(s: SparkSession, dir: String): DataFrame = {
    val o = table(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("d"))
    val bounds = o.agg(min("d").as("lo"), max("d").as("hi"))
    val calendar = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("d"))
    calendar.join(o.distinct(), Seq("d"), "left_anti")
      .orderBy("d")
  }

  private val missingDatesOracle = """
WITH bounds AS (
  SELECT min(CAST(o_orderdate AS DATE)) AS lo,
         max(CAST(o_orderdate AS DATE)) AS hi
  FROM orders),
calendar AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
  FROM bounds)
SELECT d FROM calendar
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE CAST(o_orderdate AS DATE) = d)
ORDER BY d
"""

  // ----------------------------------------------- rename + date formatting
  /** Reference P4 (rename) + E3 (date formatting) as a standalone verified
    * query: `withColumnsRenamed` + `date_format`/`to_date` round-trips.
    */
  def renameAndFormat(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .withColumnsRenamed(Map(
        "o_orderkey" -> "order_id",
        "o_totalprice" -> "total_price",
        "o_orderpriority" -> "priority"))
      .select(
        col("order_id"),
        col("total_price"),
        col("priority"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date_iso"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        quarter(col("o_orderdate")).cast("long").as("order_quarter"))
      .orderBy("order_id")

  /** No week-number column: Spark's "ww" is locale week-of-year while
    * DuckDB's %V is ISO-8601 — they disagree around year boundaries, so the
    * portable surface sticks to ISO dates, year, quarter.
    */
  private val renameAndFormatOracle = """
SELECT o_orderkey AS order_id,
  o_totalprice AS total_price,
  o_orderpriority AS priority,
  strftime(o_orderdate, '%Y-%m-%d') AS order_date_iso,
  CAST(year(o_orderdate) AS BIGINT) AS order_year,
  CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter
FROM orders ORDER BY order_id
"""

  // ------------------------------------------------------------ percentiles
  /** Exact percentiles (linear interpolation between order statistics) of
    * order totals per priority — Spark `percentile` and DuckDB
    * `quantile_cont` implement the same definition; inputs are 2-decimal
    * doubles and the interpolation is two IEEE ops on identical values.
    */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        percentile(col("o_totalprice"), lit(0.5)).as("p50"),
        percentile(col("o_totalprice"), lit(0.9)).as("p90"),
        percentile(col("o_totalprice"), lit(0.99)).as("p99"),
        min("o_totalprice").as("p0"),
        max("o_totalprice").as("p100"))
      .orderBy("o_orderpriority")

  private val percentilesOracle = """
SELECT o_orderpriority,
  quantile_cont(o_totalprice, 0.5) AS p50,
  quantile_cont(o_totalprice, 0.9) AS p90,
  quantile_cont(o_totalprice, 0.99) AS p99,
  min(o_totalprice) AS p0,
  max(o_totalprice) AS p100
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

  /** Mergeable-sketch percentiles (`approx_percentile`, a KLL/GK-style
    * summary): the scale path when an exact per-group sort is too much —
    * sketches combine associatively across partitions, so the shuffle
    * carries fixed-size state, not values. Sketch internals differ across
    * engines → rows-only check; `stats_percentiles` is the hash-checked
    * exact twin (same shape, same data).
    */
  def approxPercentiles(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        approx_percentile(col("o_totalprice"), lit(0.5), lit(1000)).as("ap50"),
        approx_percentile(col("o_totalprice"), lit(0.99), lit(1000)).as("ap99"))
      .orderBy("o_orderpriority")

  /** Per-group mode via Spark's built-in `mode(col, deterministic = true)`:
    * highest count, nulls ignored, equal counts break to the lowest value
    * (UTF-8 byte order for strings), so the oracle (count + row_number
    * window ordered by `n DESC, o_orderpriority`) reproduces it exactly.
    * One partial-aggregated shuffle of value→count maps. The engine's own
    * `TypedImperativeAggregate` example is the Count-Min pair
    * ([[graft.functions.CmsSketchAgg]] / [[graft.functions.CmsMergeAgg]]).
    */
  def modeOrderPriority(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(mode(col("o_orderpriority"), deterministic = true).as("mode_priority"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  private val modeOracle = """
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS n
  FROM orders GROUP BY o_orderstatus, o_orderpriority),
r AS (
  SELECT o_orderstatus, o_orderpriority,
    row_number() OVER (PARTITION BY o_orderstatus
                       ORDER BY n DESC, o_orderpriority) AS rn
  FROM c),
t AS (SELECT o_orderstatus, count(*) AS n_orders FROM orders GROUP BY 1)
SELECT t.o_orderstatus, r.o_orderpriority AS mode_priority, t.n_orders
FROM t JOIN r ON r.o_orderstatus = t.o_orderstatus AND r.rn = 1
ORDER BY t.o_orderstatus
"""

  /** Exact per-group quantiles by HISTOGRAM SELECTION — the distributed
    * form of exact quantiles for 100 TB: `percentile`/`quantile_cont`
    * build per-group value maps on single reducers (state = O(distinct
    * values in the group), all on one task); here the value histogram
    * `(group, value¢) → count` is a map-side-combined aggregate spread
    * over the cluster, and only the cumulative-count walk — one row per
    * DISTINCT value, not per input row — runs in a per-group window. The
    * p-th quantile (lower/`quantile_disc` semantics) is the smallest value
    * whose cumulative count reaches `ceil(p·n)`. Money stays integer cents
    * end to end, so the result is hash-exact.
    */
  def quantilesHistogram(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice")
      .cast(org.apache.spark.sql.types.DecimalType(30, 2)) * lit(100))
      .cast("long")
    val hist = table(s, dir, "orders")
      .groupBy(col("o_orderpriority"), cents.as("v"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("o_orderpriority").orderBy("v")
    val wAll = Window.partitionBy("o_orderpriority")
    def pick(p: Double): Column =
      min(when(col("cum") >= ceil(col("n") * p), col("v")))
    hist
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wAll))
      .groupBy("o_orderpriority")
      .agg(max("n").as("n"),
        pick(0.5).as("p50_cents"),
        pick(0.9).as("p90_cents"),
        pick(0.99).as("p99_cents"))
      .orderBy("o_orderpriority")
  }

  private val quantilesHistogramOracle = """
WITH hist AS (
  SELECT o_orderpriority,
    CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS v,
    count(*) AS c
  FROM orders GROUP BY 1, 2),
cum AS (
  SELECT o_orderpriority, v,
    sum(c) OVER (PARTITION BY o_orderpriority ORDER BY v) AS cum,
    sum(c) OVER (PARTITION BY o_orderpriority) AS n
  FROM hist)
SELECT o_orderpriority,
  CAST(max(n) AS BIGINT) AS n,
  min(CASE WHEN cum >= ceil(n * 0.5)  THEN v END) AS p50_cents,
  min(CASE WHEN cum >= ceil(n * 0.9)  THEN v END) AS p90_cents,
  min(CASE WHEN cum >= ceil(n * 0.99) THEN v END) AS p99_cents
FROM cum GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

  // ------------------------------------------- chi-square independence
  /** Pearson chi-square test of independence for `lang` × `source` over
    * documents. The contingency table is one hash aggregation (shuffle =
    * O(|langs|·|sources|), tiny); row/column totals re-aggregate the CELLS,
    * not the corpus, and join back broadcast — the 100 TB cost is the one
    * fact-table pass. Per-cell work is integer-exact: observed counts and
    * row·col products stay on the integer grid, expected = cast-to-double
    * of an exact product then ONE division. The total statistic is a
    * LEFT-TO-RIGHT FOLD over the (lang, source)-sorted cell contributions
    * (`aggregate` over a sorted array / DuckDB `list_reduce` over an
    * ordered list): both engines execute the identical IEEE op sequence,
    * so the sum is bit-exact — a plain double `sum()` would flap on
    * accumulation order.
    */
  def chi2Independence(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint the contingency cells: row totals, column totals, the
    // grand total and the cell join all re-read the |langs|·|sources|-row
    // table from memory — without it each derivation replays the corpus
    // aggregation (measured: 4 fact scans; ReuseExchange does not fire
    // across the differing parent aggregates)
    val cells = table(s, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val rows = cells.groupBy("lang").agg(sum("o").as("r"))
    val cols = cells.groupBy("source").agg(sum("o").as("c"))
    val tot = cells.agg(sum("o").as("n"),
      count_distinct(col("lang")).as("nl"),
      count_distinct(col("source")).as("ns"))
    val e = (col("r") * col("c")).cast("double") / col("n")
    val od = col("o").cast("double")
    cells
      .join(broadcast(rows), "lang")
      .join(broadcast(cols), "source")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n"), col("nl"), col("ns"),
        ((od - e) * (od - e) / e).as("contrib"))
      .groupBy()
      .agg(max("n").as("n_docs"),
        ((max("nl") - 1) * (max("ns") - 1)).as("dof"),
        aggregate(
          sort_array(collect_list(struct(col("lang"), col("source"),
            col("contrib")))),
          lit(0.0), (acc, x) => acc + x.getField("contrib")).as("chi2"))
  }

  private val chi2Oracle = """
WITH cells AS (
  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
rows_ AS (SELECT lang, sum(o) AS r FROM cells GROUP BY lang),
cols_ AS (SELECT source, sum(o) AS c FROM cells GROUP BY source),
tot AS (
  SELECT sum(o) AS n, count(DISTINCT lang) AS nl,
         count(DISTINCT source) AS ns
  FROM cells),
contrib AS (
  SELECT cells.lang, cells.source, n, nl, ns,
    (CAST(o AS DOUBLE) - CAST(r * c AS DOUBLE) / n)
      * (CAST(o AS DOUBLE) - CAST(r * c AS DOUBLE) / n)
      / (CAST(r * c AS DOUBLE) / n) AS contrib
  FROM cells
  JOIN rows_ USING (lang) JOIN cols_ USING (source) CROSS JOIN tot)
SELECT CAST(max(n) AS BIGINT) AS n_docs,
  CAST((max(nl) - 1) * (max(ns) - 1) AS BIGINT) AS dof,
  list_reduce(
    list_prepend(0.0, list(contrib ORDER BY lang, source)),
    (acc, x) -> acc + x) AS chi2
FROM contrib
"""

  // ------------------------------------------------------- Welch's t-test
  /** Welch's unequal-variance t-test: click vs purchase event values. One
    * conditional-aggregation pass over the fact table (map-side combined —
    * no per-group shuffle at all, the groupBy is empty) producing exact
    * power sums on the integer micros grid; mean/variance/t/df are then a
    * fixed IEEE op sequence on those exact sums, mirrored token-for-token
    * in the oracle, so the statistic is bit-identical cross-engine.
    */
  def welchTTest(s: SparkSession, dir: String): DataFrame = {
    val ev = Registry.events(s, dir)
    val vmic = (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long")
    def side(t: String, e: Column) = when(col("event_type") === t, e)
    val sums = ev
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy()
      .agg(
        // square in decimal, not int64: a long·long product wraps silently
        // in non-ANSI Spark where DuckDB raises — decimal keeps both
        // engines exact for any micros magnitude up to 10^19
        count(side("click", lit(1))).cast("double").as("n1"),
        dsum(side("click", vmic), 0).as("a1"),
        dsum(side("click", vmic.cast(DecimalType(30, 0)) * vmic), 0).as("q1"),
        count(side("purchase", lit(1))).cast("double").as("n2"),
        dsum(side("purchase", vmic), 0).as("a2"),
        dsum(side("purchase", vmic.cast(DecimalType(30, 0)) * vmic), 0).as("q2"))
    val m1 = col("a1") / col("n1"); val m2 = col("a2") / col("n2")
    val v1 = (col("q1") - col("a1") * col("a1") / col("n1")) / (col("n1") - 1)
    val v2 = (col("q2") - col("a2") * col("a2") / col("n2")) / (col("n2") - 1)
    val se1 = v1 / col("n1"); val se2 = v2 / col("n2")
    val se = se1 + se2
    sums.select(
      col("n1").cast("long").as("n_click"),
      col("n2").cast("long").as("n_purchase"),
      (m1 / 1e6).as("mean_click"),
      (m2 / 1e6).as("mean_purchase"),
      ((m1 - m2) / sqrt(se)).as("t_stat"),
      (se * se / (se1 * se1 / (col("n1") - 1) + se2 * se2 / (col("n2") - 1)))
        .as("welch_df"))
  }

  private val welchOracle = """
WITH v AS (
  SELECT event_type,
    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vmic
  FROM events WHERE event_type IN ('click', 'purchase')),
sums AS (
  SELECT
    CAST(count(*) FILTER (event_type = 'click') AS DOUBLE) AS n1,
    CAST(CAST(sum(CAST(vmic AS DECIMAL(30,0)))
         FILTER (event_type = 'click') AS VARCHAR) AS DOUBLE) AS a1,
    CAST(CAST(sum(CAST(vmic AS DECIMAL(30,0)) * vmic)
         FILTER (event_type = 'click') AS VARCHAR) AS DOUBLE) AS q1,
    CAST(count(*) FILTER (event_type = 'purchase') AS DOUBLE) AS n2,
    CAST(CAST(sum(CAST(vmic AS DECIMAL(30,0)))
         FILTER (event_type = 'purchase') AS VARCHAR) AS DOUBLE) AS a2,
    CAST(CAST(sum(CAST(vmic AS DECIMAL(30,0)) * vmic)
         FILTER (event_type = 'purchase') AS VARCHAR) AS DOUBLE) AS q2
  FROM v),
st AS (
  SELECT n1, n2, a1 / n1 AS m1, a2 / n2 AS m2,
    ((q1 - a1 * a1 / n1) / (n1 - 1)) / n1 AS se1,
    ((q2 - a2 * a2 / n2) / (n2 - 1)) / n2 AS se2
  FROM sums)
SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_purchase,
  m1 / 1e6 AS mean_click, m2 / 1e6 AS mean_purchase,
  (m1 - m2) / sqrt(se1 + se2) AS t_stat,
  (se1 + se2) * (se1 + se2)
    / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)) AS welch_df
FROM st
"""

  /** Binned two-sample Kolmogorov–Smirnov test: do URGENT and LOW priority
    * orders draw their totals from the same distribution? The statistic is
    * the standard distribution-shift monitor between two corpus slices.
    *
    * The CDFs are compared on a FIXED $100 bin grid (cents div 10000) —
    * the explicitly-binned variant of the test (the D statistic is exact
    * for the binned distributions and a lower bound for the raw ones).
    * Binning is what buys the 100 TB posture: the cumulative windows run
    * over the bin grid, which is bounded by the VALUE RANGE (≤ 5000 bins
    * for sub-$500k orders) regardless of row count — the histogram-
    * selection discipline used by [[quantilesHistogram]]. Both group
    * counts come from one conditional aggregation (one pass, map-side
    * combined).
    *
    * Cross-engine exactness: D's numerator is max |cum1·n2 − cum2·n1| in
    * int64 (≤ n1·n2 ≈ 10^9 at sf0.1 — headroom to ~3e9 rows per side),
    * then ONE IEEE division; the 95% critical value is
    * 1.358·√((n1+n2)/(n1·n2)) — one division, one exact-IEEE √, one
    * multiply, in that literal order in both engines.
    */
  def ksBinned(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice")
      .cast(DecimalType(30, 2)) * lit(100)).cast("long")
    val binned = table(s, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(cents.as("c"), col("o_orderpriority"))
      .groupBy(expr("c div 10000").as("bin")) // integer div, not `/` (double)
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
          .as("c1"),
        sum(when(col("o_orderpriority") === "5-LOW", 1L).otherwise(0L))
          .as("c2"))
    // cumulative over the bounded bin grid, totals derived from the same
    // aggregate (no second corpus pass)
    val wCum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    val cum = binned.select(
      sum("c1").over(wCum).as("cum1"), sum("c2").over(wCum).as("cum2"))
    val tot = binned.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    cum.crossJoin(broadcast(tot))
      .agg(max(abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
        .as("d_num"), max("n1").as("n1"), max("n2").as("n2"))
      .select(col("n1"), col("n2"), col("d_num"),
        (col("d_num").cast("double") / (col("n1") * col("n2")).cast("double"))
          .as("ks_d"),
        (lit(1.358) * sqrt((col("n1") + col("n2")).cast("double")
          / (col("n1") * col("n2")).cast("double"))).as("crit_95"),
        (col("d_num").cast("double") / (col("n1") * col("n2")).cast("double")
          > lit(1.358) * sqrt((col("n1") + col("n2")).cast("double")
            / (col("n1") * col("n2")).cast("double"))).as("reject_95"))
  }

  private val ksOracle = """
WITH binned AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) // 10000
      AS bin,
    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
      AS BIGINT) AS c1,
    CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
      AS BIGINT) AS c2
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
  GROUP BY 1),
cum AS (
  SELECT
    CAST(sum(c1) OVER (ORDER BY bin
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
    CAST(sum(c2) OVER (ORDER BY bin
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2
  FROM binned),
tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
  FROM binned),
d AS (
  SELECT max(abs(cum1 * n2 - cum2 * n1)) AS d_num,
    max(n1) AS n1, max(n2) AS n2
  FROM cum CROSS JOIN tot)
SELECT n1, n2, d_num,
  CAST(d_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS ks_d,
  1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)) AS crit_95,
  CAST(d_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)
    > 1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE))
    AS reject_95
FROM d
"""

  // Benford expectations log10(1+1/d), computed ONCE in the JVM and
  // interpolated as the same literal into BOTH plans — the engines share
  // the constant by construction, so no transcendental runs at query time
  private val BenfordP: Seq[Double] = (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /** Benford first-digit screen over order totals — the classic
    * fabricated-data / upstream-corruption detector a DQ layer runs on
    * money columns. The first digit comes from the exact cent STRING
    * (no log10 at query time — the only transcendentals are the nine
    * Benford constants baked in as literals at build time, identical
    * bits in both engines). Observed share is one IEEE division;
    * `excess` (share − expected) is one subtraction. Single map-side-
    * combined aggregation; the digit grid is 9 rows at any scale.
    */
  def benfordDigits(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice")
      .cast(DecimalType(30, 2)) * lit(100)).cast("long")
    val expected = BenfordP.zipWithIndex.foldLeft(lit(0.0)) {
      case (acc, (p, i)) => when(col("digit") === (i + 1), p).otherwise(acc)
    }
    val byDigit = table(s, dir, "orders")
      .select(substring(cents.cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    byDigit.crossJoin(broadcast(byDigit.agg(sum("n").as("total"))))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("total").cast("double")).as("share"),
        expected.as("benford_expected"))
      .withColumn("excess", col("share") - col("benford_expected"))
      .orderBy("digit")
  }

  private val benfordOracle = s"""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders),
byd AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM byd),
exp_ AS (
  SELECT * FROM (VALUES ${BenfordP.zipWithIndex
      // exponent form: DuckDB types a bare decimal literal as DECIMAL and
      // its decimal->double rounding can differ in the last ulp; with an
      // exponent the literal is parsed as DOUBLE, bit-identical to the JVM
      // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
      // comma-decimal locale (de_DE) would emit malformed SQL literals
      .map { case (p, i) =>
        s"(${i + 1}, ${String.format(java.util.Locale.ROOT, "%.17e", Double.box(p))})"
      }
      .mkString(", ")}) AS t(digit, benford_expected))
SELECT b.digit AS digit, b.n,
  CAST(b.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
  e.benford_expected,
  CAST(b.n AS DOUBLE) / CAST(t.total AS DOUBLE) - e.benford_expected
    AS excess
FROM byd b CROSS JOIN tot t JOIN exp_ e ON e.digit = b.digit
ORDER BY digit
"""

  /** Theil–Sen robust trend of daily event volume — the slope estimator a
    * monitoring layer prefers over least squares because one bad day
    * cannot drag it (breakdown point 29%). The estimator is the MEDIAN of
    * all pairwise slopes between daily totals.
    *
    * Scale shape: the corpus reduces to the DAILY grid first (one
    * map-side-combined aggregate; the grid is bounded by the time range,
    * not row count), gets checkpointed, and the O(days²) pair join +
    * median run on that bounded table — 435 pairs for a 30-day window.
    * For multi-year ranges, bucket to weeks first; the corpus itself is
    * never pairwise-joined. Each slope is ONE IEEE division of exact
    * int64 deltas; the median picks the middle slope(s) by a total
    * (slope, d1, d2) order, `sum/count` over ≤2 rows — deterministic in
    * both engines.
    */
  def theilSenTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = Registry.events(s, dir)
      .groupBy(datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
        .cast("long").as("day"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // bounded grid: everything below reads 30 rows
    val pairs = daily.toDF("d1", "n1")
      .join(daily.toDF("d2", "n2"), col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        ((col("n2") - col("n1")).cast("double") /
          (col("d2") - col("d1")).cast("double")).as("slope"))
    val w = Window.orderBy("slope", "d1", "d2") // total order; 435-row input
    val ranked = pairs.withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(pairs.agg(count(lit(1)).as("m"))))
    ranked
      .filter(col("rn") === expr("(m + 1) div 2") ||
        col("rn") === expr("(m + 2) div 2"))
      .agg((sum("slope") / count(lit(1))).as("sen_slope_per_day"),
        max("m").as("n_pairs"))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("n_days"))))
      .select(col("n_days"), col("n_pairs"), col("sen_slope_per_day"))
  }

  private val theilSenOracle = """
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
    CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1),
pairs AS (
  SELECT a.day AS d1, b.day AS d2,
    CAST(b.n - a.n AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON a.day < b.day),
ranked AS (
  SELECT slope,
    row_number() OVER (ORDER BY slope, d1, d2) AS rn,
    (SELECT count(*) FROM pairs) AS m
  FROM pairs),
med AS (
  SELECT sum(slope) / count(*) AS sen_slope_per_day, max(m) AS n_pairs
  FROM ranked
  WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
  CAST(n_pairs AS BIGINT) AS n_pairs, sen_slope_per_day
FROM med
"""

  /** Exact Gini coefficient of line-item quantity per return flag — the
    * inequality index a data-balance monitor runs on per-source token
    * counts. Computed from the VALUE HISTOGRAM via the mean-absolute-
    * difference identity `G = ΣΣ n_v·n_w·|v−w| / (2·n·Σx)`: quantity lives
    * on the bounded 1..50 integer grid, so the pairwise term is a 50×50
    * grid self-join per group — bounded BY CONSTRUCTION at any corpus
    * size, no sorted cumulative walk and no per-row window at all. The
    * numerator accumulates in decimal(38,0) (n_v·n_w overflows int64 at
    * ~10⁹ rows per value); numerator and denominator each reach double by
    * ONE correctly-rounded conversion, then ONE IEEE division.
    */
  def giniQuantity(s: SparkSession, dir: String): DataFrame = {
    val hist = table(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("q"))
      .groupBy("flag", "q").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // ≤ 50 rows per flag: the bounded grid
    val num = hist.toDF("flag", "v", "nv")
      .join(hist.toDF("flag", "w", "nw"), "flag")
      .groupBy("flag")
      .agg(sum(col("nv").cast(DecimalType(38, 0)) * col("nw")
        * abs(col("v") - col("w"))).as("num"))
    hist.groupBy("flag")
      .agg(sum("cnt").as("n"), sum(col("cnt") * col("q")).as("sx"))
      .join(num, "flag")
      .select(col("flag"), col("n"),
        (col("num").cast("double") /
          (lit(2.0) * col("n").cast("double") * col("sx").cast("double")))
          .as("gini"))
      .orderBy("flag")
  }

  private val giniOracle = """
WITH hist AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q,
    CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2),
num AS (
  SELECT a.flag, sum(CAST(a.cnt AS HUGEINT) * b.cnt * abs(a.q - b.q)) AS num
  FROM hist a JOIN hist b ON a.flag = b.flag
  GROUP BY a.flag),
tot AS (
  SELECT flag, CAST(sum(cnt) AS BIGINT) AS n,
    CAST(sum(cnt * q) AS BIGINT) AS sx
  FROM hist GROUP BY flag)
SELECT t.flag AS flag, t.n,
  CAST(CAST(m.num AS VARCHAR) AS DOUBLE)
    / (2.0 * CAST(t.n AS DOUBLE) * CAST(t.sx AS DOUBLE)) AS gini
FROM tot t JOIN num m ON m.flag = t.flag
ORDER BY flag
"""

  /** Mann–Whitney U rank-sum test (URGENT vs LOW order totals) — the
    * nonparametric location test that pairs with [[ksBinned]]'s
    * distributional one. `2·U₁ = Σ_v n₁(v)·(2·(#group-2 strictly below v)
    * + n₂(v))` is an exact integer, so rank arithmetic never touches a
    * float until the final z-score.
    *
    * Scale shape: the "strictly below" cumulative is the same TWO-LEVEL
    * decomposition as `paretoShare` — level 1 cumulates per-$100-bucket
    * totals over the value-range-bounded bucket grid (single task, grid
    * rows only); level 2 cumulates distinct cents WITHIN each bucket
    * (partitioned window, ≤10⁴ distinct values per partition by
    * construction). No window ever sees O(distinct values of the corpus)
    * rows in one task. The tie-correction term Σ(t³−t) is a plain
    * aggregate in decimal(38,0). z uses the large-sample normal
    * approximation with tie correction, every double op in one literal
    * order in both engines.
    */
  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast(DecimalType(30, 2)) * lit(100))
      .cast("long")
    val hist = table(s, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(cents.as("v"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("g1"))
      .groupBy("v")
      .agg(sum("g1").as("n1"), sum(lit(1L) - col("g1")).as("n2"))
      .withColumn("b", expr("v div 10000"))
      .localCheckpoint() // distinct-cents histogram feeds both levels once
    val wB = Window.orderBy("b") // level 1: bucket grid, range-bounded
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketCum = hist.groupBy("b").agg(sum("n2").as("bn2"))
      .withColumn("cum2b", coalesce(sum("bn2").over(wB), lit(0L)))
      .select("b", "cum2b")
    val wV = Window.partitionBy("b").orderBy("v") // level 2: within bucket
      .rowsBetween(Window.unboundedPreceding, -1)
    val t = (col("n1") + col("n2")).cast(DecimalType(38, 0))
    val agg = hist
      .withColumn("cum2v", coalesce(sum("n2").over(wV), lit(0L)))
      .join(bucketCum, "b")
      .agg(sum("n1").as("n1t"), sum("n2").as("n2t"),
        sum(col("n1").cast(DecimalType(38, 0)) *
          ((col("cum2b") + col("cum2v")) * lit(2L) + col("n2"))).as("u2x"),
        sum(t * t * t - t).as("tie"))
    val n1 = col("n1t").cast("double")
    val n2 = col("n2t").cast("double")
    val nn = n1 + n2
    val sigma2 = (n1 * n2 / lit(12.0)) *
      ((nn + lit(1.0)) - col("tie").cast("double") / (nn * (nn - lit(1.0))))
    val u1 = col("u2x").cast("double") / lit(2.0)
    // degenerate inputs (an empty group, or every value tied so the
    // tie-corrected variance is 0) leave z undefined: null, not NaN/Inf
    agg.select(col("n1t"), col("n2t"), u1.as("u1"),
        when(col("n1t") > 0 && col("n2t") > 0 && sigma2 > lit(0.0),
          (u1 - n1 * n2 / lit(2.0)) / sqrt(sigma2)).as("z"))
      .withColumn("reject_95", abs(col("z")) > lit(1.959963984540054))
  }

  /** CUSUM mean-shift changepoint on daily event volume — the detection
    * rule a pipeline monitor runs to find WHEN a feed broke, not just
    * that it did. The statistic is the classic centered cumulative sum
    * `S_k = Σ_{i≤k}(n_i − n̄)`; its arg-max |S_k| estimates the shift
    * point. Kept exact by scaling out the mean's division:
    * `S_k·d = d·Σ_{i≤k} n_i − k·N` is pure int64 on the day-bounded grid
    * (d days, N total events — products ≤ d·N, far inside headroom), so
    * the arg-max is an integer comparison and only the REPORTED statistic
    * divides back by d. Same one-scan + bounded-grid-window shape as
    * [[theilSenTrend]]; pre/post means are exact-int ratios, one IEEE
    * division each.
    */
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Registry.events(s, dir)
      .groupBy(datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
        .cast("long").as("day"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // bounded daily grid
    val wC = Window.orderBy("day") // bounded input by construction
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = daily.agg(count(lit(1)).as("d"), sum("n").as("nt"))
    val scored = daily
      .withColumn("k", row_number().over(Window.orderBy("day")))
      .withColumn("cum", sum("n").over(wC))
      .crossJoin(broadcast(tot))
      .withColumn("sscaled",
        col("cum") * col("d") - col("k") * col("nt")) // S_k·d, exact int64
    scored
      .orderBy(abs(col("sscaled")).desc, col("day").asc)
      .limit(1)
      .select(col("day").as("changepoint_day"),
        (abs(col("sscaled")).cast("double") / col("d").cast("double"))
          .as("cusum_stat"),
        (col("cum").cast("double") / col("k").cast("double"))
          .as("mean_before"),
        // a last-row argmax has no "after" segment: null, not 0/0 NaN
        when(col("k") < col("d"),
          (col("nt") - col("cum")).cast("double")
            / (col("d") - col("k")).cast("double")).as("mean_after"),
        col("d").as("n_days"))
  }

  private val cusumOracle = """
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
    CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS d, CAST(sum(n) AS BIGINT) AS nt
  FROM daily),
scored AS (
  SELECT day,
    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
    CAST(sum(n) OVER (ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
    d, nt
  FROM daily, tot)
SELECT day AS changepoint_day,
  CAST(abs(cum * d - k * nt) AS DOUBLE) / CAST(d AS DOUBLE) AS cusum_stat,
  CAST(cum AS DOUBLE) / CAST(k AS DOUBLE) AS mean_before,
  CASE WHEN k < d
    THEN CAST(nt - cum AS DOUBLE) / CAST(d - k AS DOUBLE) END AS mean_after,
  d AS n_days
FROM scored
ORDER BY abs(cum * d - k * nt) DESC, day ASC
LIMIT 1
"""

  /** Lag-k autocorrelation (k = 1..7) of daily event volume — the
    * weekly-seasonality screen next to [[cusumChangepoint]]'s level-shift
    * one. Exactness: the mean's division is scaled out (centered value
    * `c_t = x_t·d − N` is integer), products accumulate in decimal(38,0)
    * (c² reaches ~10²⁹ on a 10¹²-event year), and each r_k is ONE IEEE
    * division of two correctly-rounded conversions — the [[moments]]
    * power-sum discipline applied to the autocovariance.
    *
    * Scale shape: one corpus scan reduces to the day-bounded grid
    * (checkpointed); the 7 lag pairings are a grid×7 self equi-join on
    * the row index — O(d·7) rows however large the corpus. Lags index
    * GRID ROWS (observed days, in day order), the standard treatment
    * when gaps are rare.
    */
  def autocorrLag(s: SparkSession, dir: String): DataFrame = {
    val daily = Registry.events(s, dir)
      .groupBy(datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
        .cast("long").as("day"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // bounded daily grid
    val tot = daily.agg(count(lit(1)).as("d"), sum("n").as("nt"))
    val g = daily
      .withColumn("rn", row_number().over(Window.orderBy("day")))
      .crossJoin(broadcast(tot))
      .withColumn("c", col("n") * col("d") - col("nt")) // centered·d, int64
      .select("rn", "c")
      .localCheckpoint() // consumed by the denominator and all 7 lag joins
    val den = g.agg(
      sum(col("c").cast(DecimalType(38, 0)) * col("c")).as("den"))
    g.crossJoin(broadcast(
        g.sparkSession.range(1, 8).select(col("id").as("k"))))
      .join(g.toDF("rn2", "c2"), col("rn2") === col("rn") + col("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("c").cast(DecimalType(38, 0)) * col("c2")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("k"), col("n_pairs"),
        // zero-variance degenerate series (all days equal): r undefined,
        // emit null rather than 0/0 NaN (the anomalyZscore guard rule)
        when(col("den") =!= 0,
          col("num").cast("double") / col("den").cast("double")).as("r"))
      .orderBy("k")
  }

  private val autocorrOracle = """
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
    CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS d, CAST(sum(n) AS BIGINT) AS nt
  FROM daily),
g AS (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
    n * d - nt AS c
  FROM daily, tot),
den AS (SELECT sum(CAST(c AS HUGEINT) * c) AS den FROM g),
lags AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
    sum(CAST(a.c AS HUGEINT) * b.c) AS num
  FROM g a
  CROSS JOIN generate_series(1, 7) AS s(k)
  JOIN g b ON b.rn = a.rn + k
  GROUP BY k)
SELECT CAST(k AS BIGINT) AS k, n_pairs,
  CASE WHEN den <> 0 THEN CAST(CAST(num AS VARCHAR) AS DOUBLE)
    / CAST(CAST(den AS VARCHAR) AS DOUBLE) END AS r
FROM lags, den ORDER BY k
"""

  /** Wald–Wolfowitz runs test on daily event volume — "is the feed's
    * above/below-median pattern random, or does it trend/oscillate?" The
    * sign sequence compares each day's count to the LOWER MEDIAN of the
    * daily counts (the (d+1) div 2-th smallest — an integer, so sign
    * assignment is an exact comparison; median-ties are dropped, the
    * standard treatment). Runs count via one lag over the bounded daily
    * grid; E[R] and Var[R] are the textbook exact-integer ratios, z in
    * one literal IEEE order. Everything after the one-scan daily
    * reduction operates on the d-row grid.
    */
  def runsTest(s: SparkSession, dir: String): DataFrame = {
    val daily = Registry.events(s, dir)
      .groupBy(datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
        .cast("long").as("day"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // bounded daily grid
    val med = daily
      .withColumn("rk", row_number().over(Window.orderBy("n", "day")))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("d"))))
      .filter(col("rk") === expr("(d + 1) div 2"))
      .select(col("n").as("median_n"))
    val signed = daily.crossJoin(broadcast(med))
      .filter(col("n") =!= col("median_n")) // drop median ties
      .withColumn("above", (col("n") > col("median_n")).cast("long"))
    val wL = Window.orderBy("day")
    val counted = signed
      .withColumn("chg",
        when(lag("above", 1).over(wL).isNull, 1L)
          .when(lag("above", 1).over(wL) =!= col("above"), 1L)
          .otherwise(0L))
      .agg(sum("chg").as("runs"), sum("above").as("n1"),
        sum(lit(1L) - col("above")).as("n2"))
    val n1 = col("n1").cast("double")
    val n2 = col("n2").cast("double")
    val nn = n1 + n2
    val er = lit(2.0) * n1 * n2 / nn + lit(1.0)
    val vr = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n1 - n2) /
      (nn * nn * (nn - lit(1.0)))
    // one-sided sign sequences (n1=0 or n2=0) have Var[R]=0: the test is
    // undefined, emit null z (and null E[R] for the empty-sequence case)
    counted.select(col("runs"), col("n1"), col("n2"),
      when(col("n1") + col("n2") > 0, er).as("expected_runs"),
      when(col("n1") > 0 && col("n2") > 0,
        (col("runs").cast("double") - er) / sqrt(vr)).as("z"))
  }

  private val runsOracle = """
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
    CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1),
med AS (
  SELECT n AS median_n FROM (
    SELECT n, row_number() OVER (ORDER BY n, day) AS rk,
      (SELECT count(*) FROM daily) AS d
    FROM daily)
  WHERE rk = (d + 1) // 2),
signed AS (
  SELECT day, CASE WHEN n > median_n THEN 1 ELSE 0 END AS above
  FROM daily, med WHERE n <> median_n),
counted AS (
  SELECT CAST(sum(chg) AS BIGINT) AS runs, CAST(sum(above) AS BIGINT) AS n1,
    CAST(sum(1 - above) AS BIGINT) AS n2
  FROM (
    SELECT above,
      CASE WHEN lag(above) OVER (ORDER BY day) IS NULL THEN 1
           WHEN lag(above) OVER (ORDER BY day) <> above THEN 1
           ELSE 0 END AS chg
    FROM signed))
SELECT runs, n1, n2,
  CASE WHEN n1 + n2 > 0 THEN
    2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0 END
    AS expected_runs,
  CASE WHEN n1 > 0 AND n2 > 0 THEN
    (CAST(runs AS DOUBLE)
      - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
         / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))
    / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
           - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
      / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
         * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
         * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0))) END AS z
FROM counted
"""

  private val mannWhitneyOracle = """
WITH base AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS v,
    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
hist AS (
  SELECT v, CAST(sum(g1) AS BIGINT) AS n1,
    CAST(sum(1 - g1) AS BIGINT) AS n2
  FROM base GROUP BY v),
cum AS (
  SELECT v, n1, n2,
    CAST(coalesce(sum(n2) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c2
  FROM hist),
aggd AS (
  SELECT CAST(sum(n1) AS BIGINT) AS n1t, CAST(sum(n2) AS BIGINT) AS n2t,
    sum(CAST(n1 AS HUGEINT) * (2 * c2 + n2)) AS u2x,
    sum(CAST(n1 + n2 AS HUGEINT) * (n1 + n2) * (n1 + n2)
      - (n1 + n2)) AS tie
  FROM cum)
SELECT n1t, n2t, u1,
  CASE WHEN n1t > 0 AND n2t > 0 AND s2 > 0
    THEN (u1 - mu) / sqrt(s2) END AS z,
  CASE WHEN n1t > 0 AND n2t > 0 AND s2 > 0
    THEN abs((u1 - mu) / sqrt(s2)) > 1.959963984540054 END AS reject_95
FROM (
  -- u2x/tie are int128 sums: route through VARCHAR like the other hugeint
  -- oracles (moments/welch/gini/autocorr) — DuckDB's direct hugeint→double
  -- cast is not correctly rounded once the value needs int128, while
  -- Spark's decimal(38,0)→double is
  SELECT n1t, n2t,
    CAST(CAST(u2x AS VARCHAR) AS DOUBLE) / 2.0 AS u1,
    CAST(n1t AS DOUBLE) * CAST(n2t AS DOUBLE) / 2.0 AS mu,
    (CAST(n1t AS DOUBLE) * CAST(n2t AS DOUBLE) / 12.0)
      * ((CAST(n1t AS DOUBLE) + CAST(n2t AS DOUBLE) + 1.0)
        - CAST(CAST(tie AS VARCHAR) AS DOUBLE)
          / ((CAST(n1t AS DOUBLE) + CAST(n2t AS DOUBLE))
            * (CAST(n1t AS DOUBLE) + CAST(n2t AS DOUBLE) - 1.0))) AS s2
  FROM aggd)
"""

  /** Exact 10%-two-sided TRIMMED mean per group, by the same histogram-
    * selection machinery as [[quantilesHistogram]] — the robust-statistics
    * member of the family: the (group, value¢) histogram is a distributed
    * map-side-combined aggregate; each distinct value then contributes
    * `min(cum, hi) − max(cum − c, lo)` (clamped ≥ 0) kept copies, where
    * (lo, hi] is the kept rank band — so the trim needs NO per-group sort
    * of raw rows, only the cumulative walk over distinct values. Integer
    * cents end-to-end; the mean is two final IEEE divisions mirrored in
    * the oracle. `lo = n div 10` keeps even the band edges integral.
    */
  def trimmedMean(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice")
      .cast(org.apache.spark.sql.types.DecimalType(30, 2)) * lit(100))
      .cast("long")
    val hist = table(s, dir, "orders")
      .groupBy(col("o_orderpriority"), cents.as("v"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("o_orderpriority").orderBy("v")
    val wAll = Window.partitionBy("o_orderpriority")
    hist
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wAll))
      .withColumn("lo", expr("n div 10"))
      .withColumn("hi", col("n") - col("lo"))
      .withColumn("kept", greatest(lit(0L),
        least(col("cum"), col("hi")) - greatest(col("cum") - col("c"), col("lo"))))
      .groupBy("o_orderpriority")
      .agg(max("n").as("n"), max(col("hi") - col("lo")).as("kept_n"),
        sum(col("v") * col("kept")).as("kept_cents"))
      .select(col("o_orderpriority"), col("n"), col("kept_n"),
        (col("kept_cents").cast("double") / col("kept_n") / 100)
          .as("trimmed_mean"))
      .orderBy("o_orderpriority")
  }

  private val trimmedMeanOracle = """
WITH hist AS (
  SELECT o_orderpriority,
    CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS v,
    count(*) AS c
  FROM orders GROUP BY 1, 2),
cum AS (
  SELECT o_orderpriority, v, c,
    sum(c) OVER (PARTITION BY o_orderpriority ORDER BY v) AS cum,
    sum(c) OVER (PARTITION BY o_orderpriority) AS n
  FROM hist),
kept AS (
  SELECT o_orderpriority, v, n, n // 10 AS lo, n - n // 10 AS hi,
    greatest(0, least(cum, n - n // 10) - greatest(cum - c, n // 10)) AS k
  FROM cum)
SELECT o_orderpriority,
  CAST(max(n) AS BIGINT) AS n,
  CAST(max(hi - lo) AS BIGINT) AS kept_n,
  CAST(CAST(sum(v * k) AS BIGINT) AS DOUBLE) / max(hi - lo) / 100
    AS trimmed_mean
FROM kept GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

  /** Revenue concentration (the Pareto audit): what share of total order
    * value the top-1% highest-value customers hold — WITHOUT a global
    * sort, via TWO-LEVEL histogram selection. Exact cent revenues are
    * nearly unique per customer, so a direct revenue histogram is
    * O(n_customers) and a single-task cumulative window over it would
    * funnel every customer through one task at 100 TB. Instead:
    *
    *  1. revenues bucket onto a fixed $10k grid (`rev div 1e6` cents) —
    *     the bucket table is bounded by the VALUE RANGE (max_rev/1e6
    *     buckets, independent of customer count), so its descending
    *     cumulative walk is safely single-task;
    *  2. the walk finds the threshold bucket b* where the top-k rank
    *     falls; only rows of that ONE bucket (≤ 1e6 distinct cent values
    *     by construction) enter the fine-grained selection walk that
    *     resolves the exact threshold value v* and its tie surplus.
    *
    * Total mass above b* comes from the bucket walk, mass inside b* from
    * the fine walk, tie surplus settled in integer cents — the statistic
    * is exactly the naive top-k sum, and both windows have bounded input
    * by construction. The per-customer reduction is `localCheckpoint`ed:
    * both levels read the materialized reduction, not the fact table.
    */
  def paretoShare(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice")
      .cast(org.apache.spark.sql.types.DecimalType(30, 2)) * lit(100))
      .cast("long")
    val bucketW = 1000000L // $10k in cents: grid size = max_rev / 1e6
    val perCust = table(s, dir, "orders")
      .groupBy("o_custkey").agg(sum(cents).as("rev"))
      .localCheckpoint()
    // level 1: bounded bucket grid, descending cumulative counts + mass
    val buckets = perCust.groupBy(expr(s"rev div $bucketW").as("b"))
      .agg(count(lit(1)).as("bc"), sum("rev").as("bmass"))
    val wCumB = Window.orderBy(col("b").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bstar = buckets
      .withColumn("cum_ge", sum("bc").over(wCumB))
      .withColumn("n", sum("bc").over(wAll))
      .withColumn("total_cents", sum("bmass").over(wAll))
      .withColumn("k", ceil(col("n") * 0.01).cast("long"))
      .withColumn("above_cnt", col("cum_ge") - col("bc"))
      .withColumn("above_cents",
        coalesce(sum("bmass").over(Window.orderBy(col("b").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum_ge") >= col("k") && col("above_cnt") < col("k"))
      .select("b", "n", "total_cents", "k", "above_cnt", "above_cents")
    // level 2: distinct revenues of the ONE threshold bucket (≤ bucketW
    // values by construction) — fine walk resolves v* and the tie surplus
    val fine = perCust.join(broadcast(bstar),
        expr(s"rev div $bucketW") === col("b"))
      .groupBy("b", "rev", "n", "total_cents", "k", "above_cnt", "above_cents")
      .agg(count(lit(1)).as("c"))
    val wCumF = Window.partitionBy("b")
      .orderBy(col("rev").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAboveF = Window.partitionBy("b")
      .orderBy(col("rev").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    fine
      .withColumn("cum_ge_f", col("above_cnt") + sum("c").over(wCumF))
      .withColumn("above_f",
        col("above_cents") +
          coalesce(sum(col("rev") * col("c")).over(wAboveF), lit(0L)))
      .filter(col("cum_ge_f") >= col("k") &&
        col("cum_ge_f") - col("c") < col("k"))
      .select(col("n").as("n_customers"), col("k").as("topk"),
        (col("above_f") +
          (col("k") - (col("cum_ge_f") - col("c"))) * col("rev"))
          .as("topk_cents"),
        col("total_cents"),
        ((col("above_f") +
          (col("k") - (col("cum_ge_f") - col("c"))) * col("rev"))
          .cast("double") / col("total_cents").cast("double"))
          .as("top1pct_share"))
  }

  private val paretoShareOracle = """
WITH pc AS (
  SELECT o_custkey,
    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT))
         AS BIGINT) AS rev
  FROM orders GROUP BY o_custkey),
hist AS (SELECT rev, count(*) AS c FROM pc GROUP BY rev),
cum AS (
  SELECT rev, c,
    CAST(sum(c) OVER (ORDER BY rev DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_ge,
    CAST(sum(c) OVER () AS BIGINT) AS n,
    CAST(sum(rev * c) OVER () AS BIGINT) AS total_cents,
    CAST(coalesce(sum(rev * c) OVER (ORDER BY rev DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS above_cents
  FROM hist)
SELECT n AS n_customers,
  CAST(ceil(n * 0.01) AS BIGINT) AS topk,
  above_cents + (CAST(ceil(n * 0.01) AS BIGINT) - (cum_ge - c)) * rev
    AS topk_cents,
  total_cents,
  CAST(above_cents + (CAST(ceil(n * 0.01) AS BIGINT) - (cum_ge - c)) * rev
       AS DOUBLE) / CAST(total_cents AS DOUBLE) AS top1pct_share
FROM cum
WHERE cum_ge >= CAST(ceil(n * 0.01) AS BIGINT)
  AND cum_ge - c < CAST(ceil(n * 0.01) AS BIGINT)
"""

  // ------------------------------------------------- Poisson bootstrap CI
  /** Bootstrap distribution of the mean order price by POISSON bootstrap —
    * the distributed-data form of the bootstrap (each row draws an
    * independent Poisson(1) multiplicity per replicate instead of a global
    * n-out-of-n resample, to which it converges), so all B replicates
    * reduce in ONE scan with map-side combine: the shuffle carries B
    * partial rows per task, never resampled data — the property that makes
    * bootstrap inference feasible at 100 TB. Derandomized per the repo
    * discipline: the per-(row, replicate) uniform is the 60-bit md5 hash,
    * the Poisson(1) draw is a shared inverse-CDF ladder of double literals
    * (identical digit strings in both engines → identical IEEE values →
    * identical weights), capped at 8 (P ≈ 1e-8 per draw; the cap is part
    * of the definition, mirrored in the oracle). Weighted sums stay exact
    * int64; each replicate mean is ONE double division. The replicate
    * spread IS the sampling distribution of the mean — CI endpoints are
    * order statistics of these rows.
    */
  private val BootstrapReps = 32

  def poissonBootstrap(s: SparkSession, dir: String): DataFrame = {
    val x = table(s, dir, "orders").select(col("o_orderkey"),
      (col("o_totalprice").cast(DecimalType(25, 2)) * 100).cast("long")
        .as("cents"))
    val u = (SamplingOps.hash60(concat(col("o_orderkey").cast("string"),
      lit(":"), col("replicate").cast("string"))).cast("double") /
      lit(1152921504606846976L).cast("double"))
    val pois = when(col("u") < 0.36787944117144233, 0L)
      .when(col("u") < 0.7357588823428847, 1L)
      .when(col("u") < 0.9196986029286058, 2L)
      .when(col("u") < 0.9810118431238463, 3L)
      .when(col("u") < 0.9963401531726563, 4L)
      .when(col("u") < 0.9994058151824183, 5L)
      .when(col("u") < 0.999916758850712, 6L)
      .when(col("u") < 0.9999897508033254, 7L)
      .otherwise(8L)
    x.select(col("o_orderkey"), col("cents"),
        explode(sequence(lit(0), lit(BootstrapReps - 1))).as("replicate"))
      .withColumn("u", u)
      .withColumn("w", pois)
      .groupBy("replicate")
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("cents")).as("sum_cents"))
      .select(col("replicate").cast("long").as("replicate"),
        col("n_eff"), col("sum_cents"),
        (col("sum_cents").cast("double") / (col("n_eff") * 100))
          .as("mean_price"))
      .orderBy("replicate")
  }

  private val poissonBootstrapOracle = s"""
WITH x AS (
  SELECT o_orderkey,
    CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT) AS cents
  FROM orders),
draws AS (
  SELECT r.replicate, x.cents,
    CAST(CAST('0x' || substr(md5(CAST(x.o_orderkey AS VARCHAR) || ':' ||
      CAST(r.replicate AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
      / CAST(1152921504606846976 AS DOUBLE) AS u
  FROM x CROSS JOIN (SELECT unnest(range(0, $BootstrapReps)) AS replicate) r),
wt AS (
  SELECT replicate, cents,
    CASE WHEN u < 0.36787944117144233 THEN 0
         WHEN u < 0.7357588823428847 THEN 1
         WHEN u < 0.9196986029286058 THEN 2
         WHEN u < 0.9810118431238463 THEN 3
         WHEN u < 0.9963401531726563 THEN 4
         WHEN u < 0.9994058151824183 THEN 5
         WHEN u < 0.999916758850712 THEN 6
         WHEN u < 0.9999897508033254 THEN 7
         ELSE 8 END AS w
  FROM draws)
SELECT CAST(replicate AS BIGINT) AS replicate,
  CAST(sum(w) AS BIGINT) AS n_eff,
  CAST(sum(w * cents) AS BIGINT) AS sum_cents,
  CAST(CAST(sum(w * cents) AS BIGINT) AS DOUBLE) /
    (CAST(sum(w) AS BIGINT) * 100) AS mean_price
FROM wt GROUP BY replicate ORDER BY replicate
"""

  // ------------------------------------------------ mergeable HLL sketches
  /** Mergeable distinct-count sketches (Apache DataSketches HLL via
    * `hll_sketch_agg` / `hll_union_agg`) — the cross-segment accounting
    * pattern at 100 TB: each segment (here order priority) builds its own
    * sketch in one pass, and the GLOBAL distinct count is the lossless
    * register-wise union of the per-segment sketches — no second scan, no
    * re-shuffle of raw keys, and segments sketched on different days/
    * clusters still merge. The output carries the per-segment exact twin
    * and the global exact/approx pair, so the sketch's error is VISIBLE in
    * the result (like `ann_*_recall`'s honesty numbers).
    *
    * No DuckDB oracle (sketch internals are engine-specific — same
    * taxonomy as `approx_count_distinct`); instead Round10PropertySpec
    * pins the two laws that matter: the union of per-segment sketches
    * estimates EXACTLY what one global sketch estimates (merge
    * losslessness), and the estimate is within the sketch's published
    * error band of the exact count.
    */
  def hllMergeable(s: SparkSession, dir: String): DataFrame = {
    val o = Registry.table(s, dir, "orders")
    // The sketch and the exact count are SEPARATE aggregations on purpose
    // (r17 sf100 sweep, 360 s → split): mixing hll_sketch_agg with
    // countDistinct in one Aggregate makes Catalyst's distinct-rewrite
    // group stage 1 by (priority, custkey) — which instantiates and then
    // merges one 4 KB sketch PER DISTINCT KEY (75M merges ≈ 300 GB of
    // register traffic at 150M orders) instead of one partial sketch per
    // task. Split, the sketch agg keeps its map-side partial path (32
    // partials × 5 groups) and the distinct agg keeps its two-stage
    // shuffle; the 5-row join reassembles them.
    //
    // r14 optimization note — MEASURED AND REJECTED: collapsing the two
    // countDistinct passes onto one localCheckpoint'ed distinct
    // (priority, custkey) membership frame regressed 20.4 s → 34.4 s at
    // the 1000× corpus. The membership is ~67M rows (≈ 2.7 GB of block-
    // manager storage at that scale): materializing it costs more than
    // the two thin countDistinct passes it replaces, because each of
    // those dedups map-side before shuffling. Three thin passes over a
    // 2-column columnar scan beat one fat materialization. (Re-rooting
    // the SKETCH onto a distinct membership is off the table regardless:
    // DataSketches HLL estimates are partial-structure-dependent — direct
    // sketches keep the HIP accumulator, merged partials fall back to the
    // composite estimator — so the approx values shift ±0.5%, and an
    // optimization round must not change what a query computes.)
    //
    // localCheckpoint the per-segment sketch rows (≤5): the merged-union
    // branch and the final select both consume them — without the cut each
    // branch replays the orders aggregation (the chi2Independence
    // precedent), and re-building per-segment HLL state twice is pure waste
    val per = o.groupBy("o_orderpriority")
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      .join(o.groupBy("o_orderpriority")
        .agg(countDistinct("o_custkey").as("exact_customers")),
        "o_orderpriority")
      .localCheckpoint()
    val merged = per.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_all"))
    val exactAll = o.agg(countDistinct("o_custkey").as("exact_all"))
    per.select(col("o_orderpriority"),
        hll_sketch_estimate(col("sk")).as("approx_customers"),
        col("exact_customers"))
      .crossJoin(broadcast(merged))
      .crossJoin(broadcast(exactAll))
      .select(col("o_orderpriority"), col("approx_customers"),
        col("exact_customers"), col("approx_all"), col("exact_all"))
      .orderBy("o_orderpriority")
  }

  // ------------------------------------------ HLL set-operation estimates
  private val HllPairs =
    Seq(("view", "click"), ("view", "purchase"), ("signup", "purchase"))

  /** Distinct-set OVERLAP estimates from mergeable HLL sketches — the
    * audience-overlap question ("how many users did A and B?") answered
    * without ever co-shuffling the two key sets: HLL supports only union
    * natively, so the intersection comes from inclusion–exclusion,
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), with the union computed by the
    * SCALAR `hll_union` over the two per-segment sketch binaries. This is
    * the documented weak spot of HLL set algebra — the I–E error scales
    * with |A∪B| while the answer scales with |A∩B|, which is why theta
    * sketches exist — so the output carries the exact twin for every
    * term (the honesty-column presentation of [[hllMergeable]]); a
    * Round12PropertySpec law bounds the I–E estimate against the exact
    * intersection.
    *
    * 100 TB posture: one pass builds a fixed-size sketch per segment;
    * any pair's union/intersection estimate then needs only the two
    * binaries — no raw-key shuffle, and sketches built on different
    * days/clusters compose. The exact twins are one membership aggregate
    * over the (type, user) distinct frame, which is what the sketches
    * replace at scale.
    */
  def hllIntersection(s: SparkSession, dir: String): DataFrame = {
    // (type, user) membership: consumed by the sketch pass and every
    // pair's exact twin — checkpoint so the events scan runs once
    val membership = Registry.events(s, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .localCheckpoint()
    val per = membership.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        count(lit(1)).as("exact_users")) // distinct by construction
      .localCheckpoint() // ≤5 rows, consumed by every pair
    // ALL pairs' exact intersection/union counts from ONE membership pass
    // (r14 optimization; was one filter+groupBy(user_id)+agg shuffle of
    // the membership frame PER PAIR): the per-user type-flag frame reduces
    // once, intersection = Σ flagA·flagB and union = |A| + |B| − |A∩B| by
    // inclusion–exclusion on exact counts — the [[overlapExact]] kernel,
    // value-identical to the old per-pair "users with both / with either"
    // counts by construction.
    val types = HllPairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    val flagCols = types.map(t =>
      max(when(col("event_type") === t, 1L).otherwise(0L)).as(s"has_$t"))
    val exactAggs = types.map(t => sum(s"has_$t").as(s"n_$t")) ++
      HllPairs.map { case (a, b) =>
        sum(col(s"has_$a") * col(s"has_$b")).as(s"i_${a}_$b") }
    val exactOne = membership.groupBy("user_id")
      .agg(flagCols.head, flagCols.tail: _*)
      .agg(exactAggs.head, exactAggs.tail: _*)
      .localCheckpoint() // 1 row; every pair below projects it
    // Each sketch side reduces through a groupBy-less aggregate so a
    // hard-coded pair type ABSENT from the corpus still yields its one
    // row (null sketch/exact columns) instead of the crossJoin silently
    // dropping the pair — absence is visible in the output, never a
    // shrunken grid. `first` over the ≤1-row filtered frame is exact.
    val pairs = HllPairs.map { case (a, b) =>
      val skA = per.filter(col("event_type") === a)
        .agg(first("sk").as("sk_a"), first("exact_users").as("exact_a"))
      val skB = per.filter(col("event_type") === b)
        .agg(first("sk").as("sk_b"), first("exact_users").as("exact_b"))
      val exact = exactOne.select(
        col(s"i_${a}_$b").as("exact_intersection"),
        (col(s"n_$a") + col(s"n_$b") - col(s"i_${a}_$b")).as("exact_union"))
      val estU = hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b")))
      skA.crossJoin(skB).crossJoin(exact)
        .select(lit(a).as("type_a"), lit(b).as("type_b"),
          hll_sketch_estimate(col("sk_a")).as("approx_a"), col("exact_a"),
          hll_sketch_estimate(col("sk_b")).as("approx_b"), col("exact_b"),
          estU.as("approx_union"), col("exact_union"),
          (hll_sketch_estimate(col("sk_a"))
            + hll_sketch_estimate(col("sk_b")) - estU)
            .as("approx_intersection"),
          col("exact_intersection"))
    }
    pairs.reduce(_ unionByName _).orderBy("type_a", "type_b")
  }

  // ------------------------------------- mergeable Count-Min heavy hitters
  /** Heavy-hitter accounting by mergeable Count-Min sketches — the
    * frequency twin of [[hllMergeable]]'s distinct-count pattern, over the
    * word-postings base the text family shares. Per-source sketches ingest
    * the (term, tf) postings through the weighted custom aggregate
    * ([[graft.functions.CmsSketchAgg]] — state is a fixed 80 KiB counter
    * table, so partial aggregation ships sketches, not rows), merge by
    * lossless counter addition ([[graft.functions.CmsMergeAgg]]), and the
    * top-20 exact heavy hitters read their estimates off the ONE broadcast
    * merged sketch. `merged_equals_global` asserts IN THE OUTPUT that the
    * segment-merge path produced byte-identical counters to a single
    * global sketch — the mergeability guarantee, visible in the result.
    *
    * 100 TB posture: the raw token stream never shuffles — each segment
    * reduces to an 80 KiB binary in one pass (map-side combine), the union
    * shuffles 20 sketches, and point queries touch a top-k frame. No
    * DuckDB oracle (sketch internals are engine-specific — same taxonomy
    * as `stats_hll_mergeable`); Round11PropertySpec pins the CMS laws:
    * never-underestimate, the ε·N overestimate band, and the
    * merged == global flag.
    */
  def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    // Only the per-source sketches need the documents join: termTf ⋈
    // documents on doc_id is 1:1 (termTf derives from the same documents
    // table), so the global sketch and the exact top-k fold the SAME
    // (term, tf) multiset straight off the memoized postings kernel —
    // joining first changed no multiset, it only re-scanned the postings
    // and re-ran the broadcast join once per consumer (r14 optimization;
    // was three joins, three postings scans).
    val postings = TextOps.termTf(s, dir)
    val per = postings.join(
        Registry.table(s, dir, "documents").select("doc_id", "source"),
        "doc_id")
      .groupBy("source")
      .agg(call_function("cms_sketch_2048", col("term"), col("tf")).as("sk"))
    val merged = per.agg(call_function("cms_merge_2048", col("sk")).as("msk"))
    val global = postings
      .agg(call_function("cms_sketch_2048", col("term"), col("tf")).as("gsk"))
    val top = postings.groupBy("term").agg(sum("tf").as("exact_occ"))
      .orderBy(col("exact_occ").desc, col("term")).limit(20)
    top.crossJoin(broadcast(merged)).crossJoin(broadcast(global))
      .select(col("term"), col("exact_occ"),
        call_function("cms_estimate", col("msk"), col("term")).as("est_occ"),
        (col("msk") === col("gsk")).as("merged_equals_global"))
      .orderBy(col("exact_occ").desc, col("term"))
  }

  // ------------------------------------------- mergeable KLL quantiles
  /** Percentile accounting by mergeable KLL quantile sketches — the third
    * sketch next to HLL (distinct) and Count-Min (frequency), over order
    * totals in integer cents, built from Spark's own KLL functions (the
    * datasketches `KllLongsSketch`). Each segment (order priority) reduces
    * to a ~KiB sketch in one map-side-combined pass
    * (`kll_sketch_agg_bigint`); the global view is the UNION of the
    * per-segment sketches (`kll_merge_agg_bigint`) — percentiles over a
    * 100 TB stream with no sort and no second scan, the pattern
    * `quantilesHistogram`'s scaladoc contrasts against. Estimates use
    * INCLUSIVE search (`kll_sketch_get_quantile_bigint`, `quantile_disc`
    * semantics); k = [[KllK]] gives a two-sided normalized rank error of
    * about 1.65% at 99% confidence.
    *
    * Honesty columns, same presentation as `stats_hll_mergeable`: each
    * segment carries its EXACT disc quantiles (the bounded per-priority
    * histogram walk `quantilesHistogram` uses) next to the sketch
    * estimates and the sketch's own 99% quantile bounds
    * ([[kllQuantileBound]]); the merged sketch contributes global
    * estimates plus the one component of KLL that IS exact and order-free
    * — the stream length (`kll_sketch_get_n_bigint`) — as
    * `merge_preserves_n`. Unlike HLL/CMS there is no byte-identity merge
    * law: KLL is a sampling sketch (compaction flips coins from an
    * unseeded JVM-wide source, and the result depends on merge order),
    * which also makes this the registry's fifth deliberate rows-only
    * entry, excluded from DeterminismSpec like `approx_percentile` and
    * gated instead by Round11PropertySpec's published rank-error law
    * against exact order statistics.
    */
  def kllQuantiles(s: SparkSession, dir: String): DataFrame = {
    val centsCol = (col("o_totalprice")
      .cast(org.apache.spark.sql.types.DecimalType(30, 2)) * lit(100))
      .cast("long")
    val o = table(s, dir, "orders")
      .select(col("o_orderpriority"), centsCol.as("v"))
    // localCheckpoint the per-segment sketch rows (≤5): the merge branch,
    // the final select and the exact join all consume them (the
    // chi2Independence precedent) — and, KLL being a sampling sketch,
    // evaluating the aggregation once also makes the sketch BYTES
    // consistent across the query's branches instead of re-drawn per branch
    val per = o.groupBy("o_orderpriority")
      .agg(kll_sketch_agg_bigint(col("v"), KllK).as("sk"),
        count(lit(1)).as("seg_n"))
      .localCheckpoint()
    val merged = per.agg(
      kll_merge_agg_bigint(col("sk"), KllK).as("msk"),
      sum("seg_n").as("sum_n"))
    // exact disc (lower) quantiles per segment: cumulative walk over the
    // per-priority value histogram — one row per DISTINCT value, windows
    // partitioned by priority (the quantilesHistogram shape)
    val hist = o.groupBy(col("o_orderpriority"), col("v"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("o_orderpriority").orderBy("v")
    val wAll = Window.partitionBy("o_orderpriority")
    def pick(p: Double): Column =
      min(when(col("cum") >= ceil(col("n") * p), col("v")))
    val exact = hist
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wAll))
      .groupBy("o_orderpriority")
      .agg(pick(0.5).as("exact_p50_cents"), pick(0.9).as("exact_p90_cents"))
    def q(sk: String, p: Double): Column =
      kll_sketch_get_quantile_bigint(col(sk), lit(p))
    per.join(exact, "o_orderpriority")
      .crossJoin(broadcast(merged))
      .select(col("o_orderpriority"),
        col("exact_p50_cents"), q("sk", 0.5).as("est_p50_cents"),
        kllQuantileBound(col("sk"), 0.5, upper = false).as("lb_p50_cents"),
        kllQuantileBound(col("sk"), 0.5, upper = true).as("ub_p50_cents"),
        col("exact_p90_cents"), q("sk", 0.9).as("est_p90_cents"),
        (kll_sketch_get_n_bigint(col("sk")) === col("seg_n"))
          .as("seg_n_matches"),
        q("msk", 0.5).as("merged_est_p50_cents"),
        q("msk", 0.9).as("merged_est_p90_cents"),
        (kll_sketch_get_n_bigint(col("msk")) === col("sum_n"))
          .as("merge_preserves_n"))
      .orderBy("o_orderpriority")
  }

  /** KLL sketch size parameter of [[kllQuantiles]] (Spark's default). */
  private[graft] val KllK = 200

  /** The sketch's own 99%-confidence quantile bound at rank `p`, which
    * Spark does not expose: datasketches 6.2.0 defines
    * `getQuantileLowerBound(p)` as `getQuantile(max(0, p − ε))` and
    * `getQuantileUpperBound(p)` as `getQuantile(min(1, p + ε))`, with ε the
    * two-sided normalized rank error for k = [[KllK]].
    */
  private[graft] def kllQuantileBound(sk: Column, p: Double,
      upper: Boolean): Column = {
    val eps = org.apache.datasketches.kll.KllSketch
      .getNormalizedRankError(KllK, false)
    val rank = if (upper) math.min(1.0, p + eps) else math.max(0.0, p - eps)
    kll_sketch_get_quantile_bigint(sk, lit(rank))
  }

  // ------------------------------- exact anchors for the sketch family
  /** Exact audience-overlap grid for [[hllIntersection]]'s three event-type
    * pairs — the DETERMINISTIC ANCHOR of the HLL inclusion–exclusion
    * family. The sketch query is rows-only by design (sketch bytes are
    * engine-specific); this companion recomputes every exact column of
    * that output — |A|, |B|, |A∪B|, |A∩B| per pair — as its own
    * hash-gated query, so the family has a green DuckDB-checked core and
    * Round14PropertySpec can pin sketch-row exact columns == anchor rows.
    *
    * One corpus pass: per-user type flags are a single map-side-combined
    * aggregate over the distinct (type, user) membership; all pair
    * counts then reduce the per-user flag frame once (intersection =
    * Σ flagA·flagB, union by inclusion–exclusion on exact counts — no
    * per-pair re-scan, no self-join). The pair list is derived from
    * [[HllPairs]] so the two queries can never drift apart.
    */
  def overlapExact(s: SparkSession, dir: String): DataFrame = {
    val types = HllPairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    val memb = Registry.events(s, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val flagCols = types.map(t =>
      max(when(col("event_type") === t, 1L).otherwise(0L)).as(s"has_$t"))
    val perUser = memb.groupBy("user_id")
      .agg(flagCols.head, flagCols.tail: _*)
    val aggs = types.map(t => sum(s"has_$t").as(s"n_$t")) ++
      HllPairs.map { case (a, b) =>
        sum(col(s"has_$a") * col(s"has_$b")).as(s"i_${a}_$b") }
    val one = perUser.agg(aggs.head, aggs.tail: _*)
      .localCheckpoint() // 1 row; each pair below projects it
    HllPairs.map { case (a, b) =>
      one.select(lit(a).as("type_a"), lit(b).as("type_b"),
        col(s"n_$a").as("exact_a"), col(s"n_$b").as("exact_b"),
        (col(s"n_$a") + col(s"n_$b") - col(s"i_${a}_$b")).as("exact_union"),
        col(s"i_${a}_$b").as("exact_intersection"))
    }.reduce(_ unionByName _).orderBy("type_a", "type_b")
  }

  private val overlapExactOracle = """
WITH memb AS (SELECT DISTINCT event_type, user_id FROM events),
per_user AS (
  SELECT user_id,
    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS has_signup,
    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
  FROM memb GROUP BY user_id),
agg AS (SELECT
    CAST(sum(has_view) AS BIGINT) AS n_view,
    CAST(sum(has_click) AS BIGINT) AS n_click,
    CAST(sum(has_signup) AS BIGINT) AS n_signup,
    CAST(sum(has_purchase) AS BIGINT) AS n_purchase,
    CAST(sum(has_view * has_click) AS BIGINT) AS i_view_click,
    CAST(sum(has_view * has_purchase) AS BIGINT) AS i_view_purchase,
    CAST(sum(has_signup * has_purchase) AS BIGINT) AS i_signup_purchase
  FROM per_user)
SELECT 'view' AS type_a, 'click' AS type_b, n_view AS exact_a,
  n_click AS exact_b, n_view + n_click - i_view_click AS exact_union,
  i_view_click AS exact_intersection FROM agg
UNION ALL
SELECT 'view', 'purchase', n_view, n_purchase,
  n_view + n_purchase - i_view_purchase, i_view_purchase FROM agg
UNION ALL
SELECT 'signup', 'purchase', n_signup, n_purchase,
  n_signup + n_purchase - i_signup_purchase, i_signup_purchase FROM agg
ORDER BY type_a, type_b
"""

  /** Exact quantile anchor for [[kllQuantiles]] — per-segment p50/p90 in
    * integer cents PLUS the one row [[quantilesHistogram]] cannot supply:
    * the GLOBAL ('ALL') exact quantiles the MERGED sketch estimates. KLL
    * is the registry's sampling sketch (rows-only by design); this
    * companion hash-gates the deterministic core the sketch approximates,
    * giving the family a green DuckDB-checked anchor for both the
    * per-segment and the merged estimates.
    *
    * Cost discipline: ONE fact pass builds the (priority, value¢)
    * histogram; the global spine is a RE-AGGREGATION of that histogram
    * (O(distinct values), not a second orders scan), and both walks run
    * over the unioned histogram in the same per-segment window — the
    * [[quantilesHistogram]] selection shape, lower/`quantile_disc`
    * semantics, integer cents end to end.
    */
  def kllExactAnchor(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast(DecimalType(30, 2)) * lit(100))
      .cast("long")
    val hist = table(s, dir, "orders")
      .groupBy(col("o_orderpriority"), cents.as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds the segment walk AND the global re-agg
    val seg = hist.select(col("o_orderpriority").as("segment"),
      col("v"), col("c"))
    val glob = hist.groupBy("v").agg(sum("c").as("c"))
      .select(lit("ALL").as("segment"), col("v"), col("c"))
    val wCum = Window.partitionBy("segment").orderBy("v")
    val wAll = Window.partitionBy("segment")
    def pick(p: Double): Column =
      min(when(col("cum") >= ceil(col("n") * p), col("v")))
    seg.unionByName(glob)
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wAll))
      .groupBy("segment")
      .agg(max("n").as("n_orders"),
        pick(0.5).as("exact_p50_cents"),
        pick(0.9).as("exact_p90_cents"))
      .orderBy("segment")
  }

  private val kllExactAnchorOracle = """
WITH hist AS (
  SELECT o_orderpriority,
    CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS v,
    count(*) AS c
  FROM orders GROUP BY 1, 2),
both_h AS (
  SELECT o_orderpriority AS segment, v, c FROM hist
  UNION ALL
  SELECT 'ALL' AS segment, v, sum(c) AS c FROM hist GROUP BY 2),
cum AS (
  SELECT segment, v,
    sum(c) OVER (PARTITION BY segment ORDER BY v) AS cum,
    sum(c) OVER (PARTITION BY segment) AS n
  FROM both_h)
SELECT segment,
  CAST(max(n) AS BIGINT) AS n_orders,
  min(CASE WHEN cum >= ceil(n * 0.5) THEN v END) AS exact_p50_cents,
  min(CASE WHEN cum >= ceil(n * 0.9) THEN v END) AS exact_p90_cents
FROM cum GROUP BY segment ORDER BY segment
"""

  val queries: Map[String, QueryDef] = Map(
    "stats_overlap_exact" -> QueryDef(overlapExact, Some(overlapExactOracle)),
    "stats_kll_exact_anchor" ->
      QueryDef(kllExactAnchor, Some(kllExactAnchorOracle)),
    "stats_kll_quantiles" -> QueryDef(kllQuantiles, None),
    "stats_cms_heavyhitters" -> QueryDef(cmsHeavyHitters, None),
    "stats_hll_mergeable" -> QueryDef(hllMergeable, None),
    "stats_hll_intersection" -> QueryDef(hllIntersection, None),
    "stats_poisson_bootstrap" ->
      QueryDef(poissonBootstrap, Some(poissonBootstrapOracle)),
    "stats_pareto_share" -> QueryDef(paretoShare, Some(paretoShareOracle)),
    "stats_trimmed_mean" -> QueryDef(trimmedMean, Some(trimmedMeanOracle)),
    "stats_chi2_independence" ->
      QueryDef(chi2Independence, Some(chi2Oracle)),
    "stats_welch_ttest" -> QueryDef(welchTTest, Some(welchOracle)),
    "stats_ks_binned" -> QueryDef(ksBinned, Some(ksOracle)),
    "stats_benford_digits" -> QueryDef(benfordDigits, Some(benfordOracle)),
    "stats_theil_sen_trend" -> QueryDef(theilSenTrend, Some(theilSenOracle)),
    "stats_gini_quantity" -> QueryDef(giniQuantity, Some(giniOracle)),
    "stats_mann_whitney" -> QueryDef(mannWhitney, Some(mannWhitneyOracle)),
    "stats_cusum_changepoint" ->
      QueryDef(cusumChangepoint, Some(cusumOracle)),
    "stats_runs_test" -> QueryDef(runsTest, Some(runsOracle)),
    "stats_autocorr_lag" -> QueryDef(autocorrLag, Some(autocorrOracle)),
    "stats_quantiles_histogram" ->
      QueryDef(quantilesHistogram, Some(quantilesHistogramOracle)),
    "stats_mode_custom_agg" -> QueryDef(modeOrderPriority, Some(modeOracle)),
    "stats_approx_percentiles" -> QueryDef(approxPercentiles, None),
    "stats_percentiles" -> QueryDef(percentiles, Some(percentilesOracle)),
    "stats_moments_corr" -> QueryDef(moments, Some(momentsOracle)),
    "pivot_status_priority" -> QueryDef(pivotStatus, Some(pivotStatusOracle)),
    "window_rank_family" -> QueryDef(windowFamily, Some(windowFamilyOracle)),
    "string_functions" -> QueryDef(stringFunctions, Some(stringFunctionsOracle)),
    "missing_dates_relational" -> QueryDef(missingDates, Some(missingDatesOracle)),
    "rename_date_format" -> QueryDef(renameAndFormat, Some(renameAndFormatOracle))
  )
}
