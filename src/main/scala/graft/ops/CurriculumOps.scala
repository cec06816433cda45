package graft.ops

import graft.{QueryDef, Registry}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-mix assembly operators: curriculum bucketing by quality decile
  * and per-source sampling rates for a target data mixture — the two
  * decisions every LLM pretraining pipeline makes after cleaning/dedup
  * (what order/propotion to feed the surviving tokens).
  *
  * Both are deterministic arithmetic over corpus aggregates, so they are
  * oracle-checkable; both reuse the scale patterns established elsewhere:
  * histogram selection for global quantile thresholds (one aggregate whose
  * shuffle is O(distinct score values), never a global sort —
  * `StatsOps.quantilesHistogram`), and 1-row broadcasts for corpus-level
  * constants (`SearchOps`).
  */
object CurriculumOps {

  /** Integer quality grid: the (already hash-exact) quality score floored
    * onto a 1e-4 grid, so thresholds and bucket membership are integer
    * comparisons that cannot flap between engines.
    */
  private def scoreM: Column = {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    val stopRatio = size(filter(toks,
      t => t.isin("the", "a", "of", "and"))).cast("double") / nTok
    val ttr = size(array_distinct(toks)).cast("double") / nTok
    val lenSat = least(nTok / 100.0, lit(1.0))
    floor((stopRatio * 0.4 + ttr * 0.3 + lenSat * 0.3) * 10000).cast("long")
  }

  private val ScoreMSql =
    """CAST(floor((
      CAST(len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS DOUBLE)
        / len(toks) * 0.4
      + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 0.3
      + least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.3) * 10000)
      AS BIGINT)"""

  /** Decile curriculum buckets: global quality-score decile thresholds via
    * histogram selection (cumulative counts over DISTINCT grid values),
    * then each document assigned `1 + #{thresholds ≤ its score}` by joining
    * the 9-threshold row as a broadcast. Output: per-bucket doc and token
    * totals — the table a curriculum scheduler consumes.
    */
  def decileBuckets(s: SparkSession, dir: String): DataFrame =
    bucketTable(s, dir).orderBy("bucket")

  /** Session memo of the 10-row bucket table so the pacing schedule and
    * the decile listing share ONE scoring/bucketing job per session.
    */
  private val bucketCache = new graft.FrameMemo

  private def bucketTable(s: SparkSession, dir: String): DataFrame =
    bucketCache.getOrElseUpdate(s, dir)(bucketTableUncached(s, dir))

  private def bucketTableUncached(s: SparkSession, dir: String): DataFrame = {
    // the scored projection is consumed three times (histogram, corpus
    // count, final bucket assignment); localCheckpoint materializes the
    // expensive scoreM tokenization ONCE — without it each consumer
    // re-scans and re-tokenizes the corpus (3 passes at 100 TB)
    val d = Registry.table(s, dir, "documents")
      .select(col("doc_id"), scoreM.as("sm"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .localCheckpoint()
    val hist = d.groupBy("sm").agg(count(lit(1)).as("c"))
    // global single-partition window — safe BY CONSTRUCTION: its input is
    // the histogram (≤ 10001 grid values however large the corpus), never
    // the documents themselves
    val wCum = Window.orderBy("sm").rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.select(col("sm"), sum("c").over(wCum).as("cum"))
      .crossJoin(broadcast(d.agg(count(lit(1)).as("n"))))
    val tcols = (1 to 9).map(k =>
      min(when(col("cum") >= ceil(col("n") * (k / 10.0)), col("sm")))
        .as(s"d$k"))
    val thresholds = cum.agg(tcols.head, tcols.tail: _*)
    val bucket = (1 to 9).map(k =>
      when(col("sm") >= col(s"d$k"), 1L).otherwise(0L))
      .reduce(_ + _) + 1
    d.crossJoin(broadcast(thresholds))
      .withColumn("bucket", bucket)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        min("sm").as("min_score_m"), max("sm").as("max_score_m"))
  }

  /** Curriculum PACING schedule — the admission plan a staged training
    * run consumes: epoch e (1..5) admits quality buckets ≤ 2e (linear
    * pacing, easiest-first), and the table reports how many documents /
    * tokens are available to each epoch and the cumulative token share.
    * Runs entirely on the memoized 10-row bucket table × a 5-row epoch
    * grid — zero additional corpus passes beyond the shared bucketing
    * job. One IEEE division per share.
    */
  def pacingSchedule(s: SparkSession, dir: String): DataFrame = {
    val b = bucketTable(s, dir)
    val epochs = s.range(1, 6).select(col("id").as("epoch"))
    val total = b.agg(sum("sum_tokens").as("total_tokens"))
    b.crossJoin(broadcast(epochs))
      .filter(col("bucket") <= col("epoch") * 2)
      .groupBy("epoch")
      .agg(count(lit(1)).as("n_buckets"),
        sum("n_docs").as("docs_admitted"),
        sum("sum_tokens").as("tokens_admitted"))
      .crossJoin(broadcast(total))
      .select(col("epoch"), col("n_buckets"), col("docs_admitted"),
        col("tokens_admitted"),
        (col("tokens_admitted").cast("double")
          / col("total_tokens").cast("double")).as("token_share"))
      .orderBy("epoch")
  }

  /** The shared scoring→threshold→bucket CTE chain (ends at per-doc `b`
    * and the rolled-up 10-row `bt`), reused by both bucket-consuming
    * oracles so the SQL cannot drift from the engine's shared
    * [[bucketTable]].
    */
  private val decileCtes = s"""t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
d AS (
  SELECT doc_id, $ScoreMSql AS sm, CAST(len(toks) AS BIGINT) AS n_tokens
  FROM t),
hist AS (SELECT sm, count(*) AS c FROM d GROUP BY sm),
cum AS (
  SELECT sm, sum(c) OVER (ORDER BY sm) AS cum,
    (SELECT count(*) FROM d) AS n
  FROM hist),
th AS (
  SELECT
    ${(1 to 9).map(k =>
      s"min(CASE WHEN cum >= ceil(n * ${k / 10.0}) THEN sm END) AS d$k")
      .mkString(",\n    ")}
  FROM cum),
b AS (
  SELECT d.doc_id, d.n_tokens, d.sm,
    1 + ${(1 to 9).map(k => s"(CASE WHEN d.sm >= th.d$k THEN 1 ELSE 0 END)")
      .mkString(" + ")} AS bucket
  FROM d, th),
bt AS (
  SELECT CAST(bucket AS BIGINT) AS bucket,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
    min(sm) AS min_score_m, max(sm) AS max_score_m
  FROM b GROUP BY bucket)"""

  private val decileOracle = s"""
WITH $decileCtes
SELECT bucket, n_docs, sum_tokens, min_score_m, max_score_m
FROM bt ORDER BY bucket
"""

  private val pacingOracle = s"""
WITH $decileCtes,
tot AS (SELECT CAST(sum(sum_tokens) AS BIGINT) AS total_tokens FROM bt)
SELECT CAST(e.epoch AS BIGINT) AS epoch,
  CAST(count(*) AS BIGINT) AS n_buckets,
  CAST(sum(bt.n_docs) AS BIGINT) AS docs_admitted,
  CAST(sum(bt.sum_tokens) AS BIGINT) AS tokens_admitted,
  CAST(CAST(sum(bt.sum_tokens) AS BIGINT) AS DOUBLE)
    / CAST(t.total_tokens AS DOUBLE) AS token_share
FROM bt
JOIN generate_series(1, 5) AS e(epoch) ON bt.bucket <= e.epoch * 2
CROSS JOIN tot t
GROUP BY e.epoch, t.total_tokens
ORDER BY epoch
"""

  /** Per-source sampling rates for a target mixture: source `srcK` gets
    * target weight `(K+1)/210` (Σ 1..20 — a deterministic stand-in for the
    * mixture a data recipe prescribes). The rate that hits the target from
    * each source's actual token mass is `min(1, weight·T / tokens_s)` —
    * one IEEE division of exact int64 products, so it hash-matches. A rate
    * of 1 flags an under-represented source (upsampling decision left to
    * the recipe). Corpus total joins as a 1-row broadcast.
    */
  def mixSamplingRates(s: SparkSession, dir: String): DataFrame = {
    val perSource = Registry.table(s, dir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
      .withColumn("w_num", substring(col("source"), 4, 10).cast("long") + 1)
    val total = perSource.agg(sum("tokens").as("total_tokens"))
    perSource.join(broadcast(total))
      .withColumn("sampling_rate",
        least(lit(1.0), (col("w_num") * col("total_tokens")).cast("double")
          / (col("tokens") * 210).cast("double")))
      .select(col("source"), col("n_docs"), col("tokens"), col("w_num"),
        col("sampling_rate"),
        floor(col("sampling_rate") * col("tokens").cast("double"))
          .cast("long").as("kept_tokens"))
      .orderBy("source")
  }

  private val mixOracle = """
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
    CAST(substr(source, 4) AS BIGINT) + 1 AS w_num
  FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens FROM per)
SELECT source, n_docs, tokens, w_num,
  least(1.0, CAST(w_num * total_tokens AS DOUBLE)
             / CAST(tokens * 210 AS DOUBLE)) AS sampling_rate,
  CAST(floor(least(1.0, CAST(w_num * total_tokens AS DOUBLE)
                        / CAST(tokens * 210 AS DOUBLE))
             * CAST(tokens AS DOUBLE)) AS BIGINT) AS kept_tokens
FROM per, tot ORDER BY source
"""

  /** Temperature-scaled mixture sampling at α = 1/2 — the multilingual-
    * corpus balancing rule (sampling probability ∝ p_s^α flattens the
    * source distribution; α = 1/2 is chosen here because √ is an EXACT
    * IEEE-754 operation, so unlike a general pow() the statistic is
    * bit-identical cross-engine): q_s = √tokens_s / Σ√tokens, each source
    * draws q_s·B of a budget B = total/10, rate capped at 1.
    *
    * The Σ√ normalizer is a LEFT-TO-RIGHT FOLD over the source-sorted
    * weights (the chi² trick — `aggregate` over `sort_array`, DuckDB
    * `list_reduce` over `list(... ORDER BY source)`) so the double sum has
    * ONE defined addition order. Everything is per-source aggregates and a
    * 1-row broadcast; the corpus shuffles O(sources).
    */
  def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    val perSource = Registry.table(s, dir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
      .withColumn("w", sqrt(col("tokens").cast("double")))
    val norm = perSource.agg(
      sum("tokens").as("total_tokens"),
      aggregate(
        sort_array(collect_list(struct(col("source"), col("w")))),
        lit(0.0), (acc, x) => acc + x.getField("w")).as("z"))
    perSource.join(broadcast(norm))
      .withColumn("q_temp", col("w") / col("z"))
      .withColumn("budget", expr("total_tokens div 10"))
      .withColumn("sampling_rate",
        least(lit(1.0),
          col("q_temp") * col("budget").cast("double")
            / col("tokens").cast("double")))
      .select(col("source"), col("n_docs"), col("tokens"), col("q_temp"),
        col("sampling_rate"),
        floor(col("sampling_rate") * col("tokens").cast("double"))
          .cast("long").as("kept_tokens"))
      .orderBy("source")
  }

  private val temperatureOracle = """
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
    sqrt(CAST(CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS DOUBLE))
      AS w
  FROM documents GROUP BY source),
norm AS (
  SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
    list_reduce(list_prepend(0.0, list(w ORDER BY source)),
                (acc, x) -> acc + x) AS z
  FROM per)
SELECT source, n_docs, tokens,
  w / z AS q_temp,
  least(1.0, (w / z) * CAST(total_tokens // 10 AS DOUBLE)
             / CAST(tokens AS DOUBLE)) AS sampling_rate,
  CAST(floor(least(1.0, (w / z) * CAST(total_tokens // 10 AS DOUBLE)
                   / CAST(tokens AS DOUBLE))
             * CAST(tokens AS DOUBLE)) AS BIGINT) AS kept_tokens
FROM per, norm ORDER BY source
"""

  val queries: Map[String, QueryDef] = Map(
    "curriculum_decile_buckets" -> QueryDef(decileBuckets, Some(decileOracle)),
    "mix_sampling_rates" -> QueryDef(mixSamplingRates, Some(mixOracle)),
    "sample_temperature_mix" ->
      QueryDef(temperatureMix, Some(temperatureOracle)),
    "curriculum_pacing_schedule" ->
      QueryDef(pacingSchedule, Some(pacingOracle))
  )
}
