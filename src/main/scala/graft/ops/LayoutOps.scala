package graft.ops

import graft.{QueryDef, Registry}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout operators: Z-order (Morton) clustering for multi-dimension
  * data skipping. A 100 TB fact table sorted by one key gives min/max file
  * stats that prune on THAT key only; interleaving the bits of two keys
  * makes every file's bounding box small in BOTH dimensions, so parquet
  * row-group stats (or a format's file-level stats) prune on either
  * predicate. The reference has a manual single-dim layout (one S3 prefix
  * per date, `xetra/common/s3.py:52-63`); this generalizes it.
  *
  * The z-value is exact integer bit-interleaving — deterministic,
  * oracle-checkable, codegen-friendly (a fixed 32-term bitwise expression
  * tree, no UDF).
  */
object LayoutOps {

  private val Bits = 16 // 16 bits per dimension → z fits comfortably in long

  /** Morton interleave of the low [[Bits]] bits of two non-negative longs:
    * bit k of `a` lands at 2k, bit k of `b` at 2k+1. The terms set disjoint
    * bits, so OR-reduce is exact; the whole thing is one codegen'd integer
    * expression.
    */
  def zValue(a: Column, b: Column): Column =
    (0 until Bits).map { k =>
      shiftleft(shiftright(a, k).bitwiseAND(lit(1L)), 2 * k)
        .bitwiseOR(shiftleft(shiftright(b, k).bitwiseAND(lit(1L)), 2 * k + 1))
    }.reduce(_.bitwiseOR(_))

  /** The matching DuckDB/ANSI expression for [[zValue]] — generated from
    * the same term list so the two engines cannot drift.
    */
  def zValueSql(a: String, b: String): String =
    (0 until Bits).flatMap { k =>
      Seq(s"(((($a) >> $k) & 1) << ${2 * k})",
        s"(((($b) >> $k) & 1) << ${2 * k + 1})")
    }.mkString(" | ")

  /** Write `df` clustered by the z-value of (a, b) into `n` files: range
    * partition on z so files tile the curve, sort within each so row
    * groups tile it too. This is the layout job a table-maintenance
    * (compaction/OPTIMIZE ZORDER) pass runs at scale.
    *
    * Each dimension is min/max-normalized onto the full 16-bit grid before
    * interleaving — raw interleave of mismatched-width keys degenerates to
    * a single-key sort (the wider key owns every high bit of z; caught by
    * `LayoutSpec`). The min/max pre-pass is one 1-row aggregate; a 100 TB
    * deployment samples or uses table stats instead.
    */
  def writeZOrdered(df: DataFrame, outDir: String, n: Int,
      a: Column, b: Column): Unit = {
    val r = df.agg(min(a).cast("long"), max(a).cast("long"),
      min(b).cast("long"), max(b).cast("long")).head()
    val (amin, amax, bmin, bmax) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // scale in double then clamp: (c - lo) * 65535 in long arithmetic
    // overflows for key ranges wider than ~2^47 and scrambles the curve
    def norm(c: Column, lo: Long, hi: Long): Column =
      least(lit(65535L), greatest(lit(0L),
        ((c.cast("long") - lit(lo)).cast("double")
          * (65535.0 / math.max(1L, hi - lo).toDouble)).cast("long")))
    df.withColumn("_z",
        zValue(norm(a, amin, amax).cast("long"), norm(b, bmin, bmax).cast("long")))
      .repartitionByRange(n, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(outDir)
  }

  /** Z-bucket profile of orders over (custkey, order day): per z-bucket
    * row count and the bounding box in both dimensions — the clustering
    * quality metric a layout job reports (small boxes in BOTH dims =
    * skippable files). Buckets = top 12 z bits, i.e. the file boundary a
    * 4096-file layout would use.
    */
  def zorderStats(s: SparkSession, dir: String): DataFrame = {
    val o = Registry.table(s, dir, "orders").select(
      col("o_custkey"),
      datediff(col("o_orderdate").cast("date"),
        lit("1995-01-01").cast("date")).cast("long").as("day"))
    val a = col("o_custkey").bitwiseAND(lit(65535L))
    val b = col("day").bitwiseAND(lit(65535L))
    o.withColumn("z", zValue(a, b))
      .groupBy(shiftright(col("z"), 20).as("z_bucket"))
      .agg(count(lit(1)).as("n"),
        min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"),
        min("day").as("min_day"), max("day").as("max_day"))
      .orderBy("z_bucket")
  }

  private val zorderStatsOracle = s"""
WITH o AS (
  SELECT o_custkey,
    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day
  FROM orders),
z AS (
  SELECT o_custkey, day,
    ${zValueSql("o_custkey & 65535", "day & 65535")} AS z
  FROM o)
SELECT CAST(z >> 20 AS BIGINT) AS z_bucket,
  count(*) AS n,
  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
  min(day) AS min_day, max(day) AS max_day
FROM z GROUP BY z_bucket ORDER BY z_bucket
"""

  // ----------------------------------------------------- compaction planner
  private val TargetBytes = 4096L

  /** Small-file compaction plan — the table-maintenance decision every
    * large table needs: group each partition's undersized files into
    * target-size rewrite groups. Files are modeled as (source,
    * doc_id div 50) slices of `documents` with byte size Σ n_chars (the
    * testdata carries no real file listing); the PLANNER itself is the
    * real operator and runs on file-level METADATA — one row per file —
    * so at 100 TB its input is ~10⁶ rows however big the data is, and
    * every window below partitions by `source` (never a global sort).
    *
    * Packing rule: within a partition, walk files in file_id order and
    * open a new group every [[TargetBytes]] of cumulative size —
    * `group = (cum − size) div target`, the START-OFFSET bin of each
    * file, which is the streaming first-fit rule computable as one
    * window cumsum + integer division (no iterative loop, identical in
    * SQL). Exact int64 end-to-end.
    */
  def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val files = Registry.table(s, dir, "documents")
      .groupBy(col("source"), expr("doc_id div 50").as("file_id"))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("bytes"))
    val wCum = Window.partitionBy("source").orderBy("file_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    files
      .withColumn("cum", sum("bytes").over(wCum))
      .withColumn("grp", expr(s"(cum - bytes) div $TargetBytes"))
      .groupBy("source", "grp")
      .agg(count(lit(1)).as("n_files"), sum("n_docs").as("n_docs"),
        sum("bytes").as("bytes"),
        min("file_id").as("first_file"), max("file_id").as("last_file"))
      .orderBy("source", "grp")
  }

  private val compactionOracle = s"""
WITH files AS (
  SELECT source, doc_id // 50 AS file_id,
    CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bytes
  FROM documents GROUP BY 1, 2),
planned AS (
  SELECT source, file_id, n_docs, bytes,
    (CAST(sum(bytes) OVER (PARTITION BY source ORDER BY file_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - bytes)
      // $TargetBytes AS grp
  FROM files)
SELECT source, grp, CAST(count(*) AS BIGINT) AS n_files,
  CAST(sum(n_docs) AS BIGINT) AS n_docs, CAST(sum(bytes) AS BIGINT) AS bytes,
  min(file_id) AS first_file, max(file_id) AS last_file
FROM planned GROUP BY source, grp ORDER BY source, grp
"""

  // ------------------------------------------------------ zone-map pruning
  /** Zone-map (min/max file-stats) pruning effectiveness report — the
    * skipping audit a lakehouse maintenance layer runs before deciding to
    * re-cluster: for a grid of `n_chars >= t` predicates, how many files
    * can be skipped outright (`max < t`), read without evaluating the
    * predicate (`min >= t`), or must be scanned row-by-row. Files are the
    * same (source, doc_id div 50) slices as [[compactionPlan]]; the whole
    * query runs on FILE METADATA — one min/max row per file, ~10⁶ rows at
    * 100 TB — crossed with the 8-threshold grid (data-driven: k/8 of the
    * global min/max span, exact integer arithmetic so the grid is
    * identical in both engines). The corpus itself is scanned once to
    * build the stats, exactly like a real layout job.
    */
  def zoneMapPruning(s: SparkSession, dir: String): DataFrame = {
    val files = Registry.table(s, dir, "documents")
      .groupBy(col("source"), expr("doc_id div 50").as("file_id"))
      .agg(count(lit(1)).as("rows"),
        min("n_chars").as("mn"), max("n_chars").as("mx"))
      .localCheckpoint() // file metadata: feeds the span agg + the grid join
    val span = files.agg(min("mn").as("lo"), max("mx").as("hi"))
    val grid = span
      .select(explode(sequence(lit(1L), lit(8L))).as("k"),
        col("lo"), col("hi"))
      .select(col("k"),
        (col("lo") + expr("(hi - lo) * k div 8")).as("t"))
    files.crossJoin(broadcast(grid))
      .groupBy("k", "t")
      .agg(
        sum(when(col("mx") < col("t"), 1L).otherwise(0L)).as("files_pruned"),
        sum(when(col("mn") >= col("t"), 1L).otherwise(0L)).as("files_full"),
        sum(when(col("mx") >= col("t") && col("mn") < col("t"), 1L)
          .otherwise(0L)).as("files_partial"),
        sum(when(col("mx") < col("t"), col("rows")).otherwise(0L))
          .as("rows_skipped"),
        sum(when(col("mx") >= col("t"), col("rows")).otherwise(0L))
          .as("rows_must_scan"))
      .orderBy("k")
  }

  private val zoneMapOracle = """
WITH files AS (
  SELECT source, doc_id // 50 AS file_id, CAST(count(*) AS BIGINT) AS rows_,
    CAST(min(n_chars) AS BIGINT) AS mn, CAST(max(n_chars) AS BIGINT) AS mx
  FROM documents GROUP BY 1, 2),
span AS (SELECT min(mn) AS lo, max(mx) AS hi FROM files),
grid AS (
  SELECT k, lo + (hi - lo) * k // 8 AS t
  FROM span, generate_series(1, 8) AS g(k)),
joined AS (SELECT * FROM files CROSS JOIN grid)
SELECT CAST(k AS BIGINT) AS k, t,
  CAST(sum(CASE WHEN mx < t THEN 1 ELSE 0 END) AS BIGINT) AS files_pruned,
  CAST(sum(CASE WHEN mn >= t THEN 1 ELSE 0 END) AS BIGINT) AS files_full,
  CAST(sum(CASE WHEN mx >= t AND mn < t THEN 1 ELSE 0 END) AS BIGINT)
    AS files_partial,
  CAST(sum(CASE WHEN mx < t THEN rows_ ELSE 0 END) AS BIGINT)
    AS rows_skipped,
  CAST(sum(CASE WHEN mx >= t THEN rows_ ELSE 0 END) AS BIGINT)
    AS rows_must_scan
FROM joined GROUP BY k, t ORDER BY k
"""

  // ------------------------------------------------------- manifest diff
  /** File-manifest diff between table snapshots — the commit-planning
    * step of a lakehouse writer: which files does the incoming batch
    * CREATE (every doc in the file is new), which does it REWRITE (a mix
    * of old and new docs lands in the same file slice), which are
    * untouched. "New" docs are content-hash bucket 0 of 10 (the
    * [[PipelineOps.mvJoinDelta]] delta stand-in); files are the
    * compaction planner's (source, doc_id div 50) slices. ONE corpus scan
    * produces per-file (total, new) counts + new-byte sums; the
    * classification and per-source rollup are file-METADATA aggregations
    * (~10⁶ rows at 100 TB). Exact integers end-to-end.
    */
  def manifestDiff(s: SparkSession, dir: String): DataFrame = {
    val d = Registry.table(s, dir, "documents")
      .select(col("source"), expr("doc_id div 50").as("file_id"),
        col("n_chars"),
        (pmod(SamplingOps.hash60(col("doc_id")), lit(10)) === 0)
          .as("is_new"))
    val files = d.groupBy("source", "file_id")
      .agg(count(lit(1)).as("nd"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("nnew"),
        sum(when(col("is_new"), col("n_chars")).otherwise(0L))
          .as("new_bytes"))
    files.groupBy("source")
      .agg(
        sum(when(col("nnew") === col("nd"), 1L).otherwise(0L))
          .as("files_added"),
        sum(when(col("nnew") > 0 && col("nnew") < col("nd"), 1L)
          .otherwise(0L)).as("files_rewritten"),
        sum(when(col("nnew") === 0, 1L).otherwise(0L))
          .as("files_unchanged"),
        sum("nnew").as("delta_docs"),
        sum("new_bytes").as("delta_bytes"))
      .orderBy("source")
  }

  private val manifestDiffOracle = """
WITH d AS (
  SELECT source, doc_id // 50 AS file_id, n_chars,
    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      % 10 = 0 AS is_new
  FROM documents),
files AS (
  SELECT source, file_id, CAST(count(*) AS BIGINT) AS nd,
    CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS nnew,
    CAST(sum(CASE WHEN is_new THEN n_chars ELSE 0 END) AS BIGINT)
      AS new_bytes
  FROM d GROUP BY 1, 2)
SELECT source,
  CAST(sum(CASE WHEN nnew = nd THEN 1 ELSE 0 END) AS BIGINT)
    AS files_added,
  CAST(sum(CASE WHEN nnew > 0 AND nnew < nd THEN 1 ELSE 0 END) AS BIGINT)
    AS files_rewritten,
  CAST(sum(CASE WHEN nnew = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS files_unchanged,
  CAST(sum(nnew) AS BIGINT) AS delta_docs,
  CAST(sum(new_bytes) AS BIGINT) AS delta_bytes
FROM files GROUP BY source ORDER BY source
"""

  // ------------------------------------------------------ bucketed layout
  /** Rows per bucket the layout targets — sized so a bucket's widest
    * consumer (the lineitem-side sort of a bucketed write, or one join
    * task) stays comfortably in one executor core's memory at ~100 bytes
    * a row. The bucket count derives from the FACT table's measured row
    * count, so the same code lays out 8 buckets at sf0.1 and ~75 at the
    * 1000× corpus.
    */
  private val RowsPerBucket = 8L << 20

  /** Write `df` bucketed+sorted by `key` as an external parquet table.
    * `repartition(nb, key)` first: the repartition hash IS the bucket
    * hash (pmod of Murmur3), so each write task holds exactly one
    * bucket's rows and emits ONE file per bucket — the precondition for
    * Spark to also trust the sortBy order at read time (multi-file
    * buckets lose `outputOrdering` and re-sort under every merge join).
    */
  def writeBucketed(df: DataFrame, key: String, nb: Int,
      path: String, name: String): Unit = {
    df.repartition(nb, col(key))
      .write.mode("overwrite")
      .bucketBy(nb, key).sortBy(key)
      .option("path", path)
      .format("parquet")
      .saveAsTable(name)
  }

  /** The two bucketed tables' catalog names, per (session, corpus). */
  private val bucketedCache = new graft.SessionMemo[(String, String)]

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** The (lineitem, orders) pair laid out bucketed+sorted on the orderkey
    * — the layout a pipeline that repeatedly joins or aggregates on one
    * key maintains INSTEAD of paying a full fact shuffle per query. The
    * r18 sweep's largest honest sf100 line (`join_priority_shipping`,
    * 46.5 s) is exactly this shuffle: 600M lineitem rows re-hashed on
    * l_orderkey every run. With both tables bucketed, the per-order
    * aggregate needs NO exchange (the scan's `outputPartitioning` already
    * satisfies the aggregate's distribution) and the orders join needs
    * neither exchange NOR a sort on the orders side (one file per bucket
    * keeps `sortBy` visible to the planner). The write costs one shuffle
    * — amortized across every subsequent orderkey query in the session
    * (and, on a real deployment, across every query against the table).
    *
    * The layout lands under java.io.tmpdir keyed by the corpus dir, and
    * re-registration is idempotent: a second session in the same JVM
    * reuses the existing catalog entry instead of rewriting.
    */
  /** Session posture a deliberately-maintained bucketed layout needs —
    * set at prep time, [[Registry.prepareEventConfs]]-style (the queries
    * stay correct on a vanilla session; these only keep the layout's
    * plan benefits from being silently dropped):
    *  - `autoBucketedScan.enabled=false`: Spark 4's
    *    `DisableUnnecessaryBucketedScan` demotes a bucketed scan whenever
    *    no operator above consumes the hash distribution — including a
    *    pruning-only point lookup, which loses `SelectedBucketsCount`
    *    and reads every bucket (verified against the bundled 4.1.2 rule:
    *    it has no bucket-filter guard).
    *  - `legacy.bucketedTableScan.outputOrdering=true`: since 3.0 the
    *    write-time `sortBy` order is ignored at read unless this is on
    *    (the gate exists because exposing it needs a planning-time file
    *    listing to prove one-file-per-bucket — trivial here, ≤512 files,
    *    and [[writeBucketed]] guarantees the one-file shape).
    */
  private def prepareBucketedConfs(s: SparkSession): Unit = {
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
  }

  private[graft] def bucketedOrderkeyTables(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (li, ord) = bucketedCache.getOrElseUpdate(s, dir) {
      prepareBucketedConfs(s)
      // Tag includes the PID: the layout is an external-path catalog table,
      // and two JVMs pointed at the same corpus (e.g. a Verify gate and a
      // Bench run overlapping on one host) would otherwise overwrite each
      // other's files mid-read. Amortization is per-process anyway — the
      // in-memory catalog doesn't outlive the JVM.
      val tag = (dir.hashCode & 0x7fffffff).toHexString +
        "_" + ProcessHandle.current().pid()
      val (liName, oName) = (s"graft_bkt_lineitem_$tag", s"graft_bkt_orders_$tag")
      if (!(s.catalog.tableExists(liName) && s.catalog.tableExists(oName))) {
        val li = Registry.table(s, dir, "lineitem")
        // a bucketed scan's task count IS the bucket count — floor it at
        // the session's parallelism or the layout caps every downstream
        // query's concurrency (the first sf10 measurement ran the whole
        // 60M-row aggregate on 8 of 32 cores); above that floor, size by
        // rows so buckets stay sort-able in one task at the big corpora
        val nb = math.min(512, math.max(
          s.sparkContext.defaultParallelism,
          ((li.count() + RowsPerBucket - 1) / RowsPerBucket).toInt))
        val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed/$tag"
        // the PID-unique layout dies with the JVM — without this, every
        // sweep chunk (one JVM each) would leave a corpus-sized layout
        // behind and a long sweep would exhaust the sandbox disk
        sys.addShutdownHook(deleteRecursively(new java.io.File(base)))
        writeBucketed(li, "l_orderkey", nb, s"$base/lineitem", liName)
        writeBucketed(
          Registry.table(s, dir, "orders").withColumnRenamed(
            "o_orderkey", "l_orderkey"),
          "l_orderkey", nb, s"$base/orders", oName)
      }
      (liName, oName)
    }
    (s.table(li), s.table(ord))
  }

  /** The `join_priority_shipping` aggregation on the bucketed layout: per
    * orderkey lineitem partials (ZERO exchange — bucketing pre-satisfies
    * the grouping), merge-joined with bucketed orders (zero exchange,
    * zero sort on the orders side), then the 5-row priority rollup. The
    * only shuffle in the whole plan is the final tiny partial-agg
    * exchange; `Round19PropertySpec` pins that shape. The merge hint
    * makes the co-located path the measured one at every SF — at the
    * target scale orders cannot broadcast anyway, so the small-SF plan
    * should be the big-SF plan.
    */
  def bucketedColocatedJoin(s: SparkSession, dir: String): DataFrame = {
    val (li, o) = bucketedOrderkeyTables(s, dir)
    val perOrder = li.groupBy("l_orderkey")
      .agg(count(lit(1)).as("_n"), sum("l_quantity").as("_q"))
    perOrder.join(o.hint("merge"), Seq("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(sum("_n").as("n_items"), sum("_q").as("total_qty"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  private val bucketedJoinOracle = """
SELECT o_orderpriority, count(*) AS n_items, sum(l_quantity) AS total_qty,
  count(DISTINCT l_orderkey) AS n_orders
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

  /** Items-per-order distribution on the bucketed layout: the per-order
    * count runs with NO exchange (the expensive half — one row per
    * orderkey over the full fact), and only the tiny histogram re-group
    * shuffles. The unbucketed form shuffles the whole fact first.
    */
  def bucketedItemsHistogram(s: SparkSession, dir: String): DataFrame = {
    val (li, _) = bucketedOrderkeyTables(s, dir)
    li.groupBy("l_orderkey").agg(count(lit(1)).as("n_items"))
      .groupBy("n_items").agg(count(lit(1)).as("n_orders"))
      .orderBy("n_items")
  }

  private val itemsHistogramOracle = """
SELECT n_items, count(*) AS n_orders FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_items FROM lineitem GROUP BY l_orderkey)
GROUP BY n_items ORDER BY n_items
"""

  /** Point lookup on the bucket key: an equality literal prunes the scan
    * to ONE bucket file (`SelectedBucketsCount: 1 out of nb` in the plan)
    * — the index-free O(data/nb) lookup path a bucketed layout buys on
    * top of the join locality. Key 0 exists at every SF (dense 0-based
    * orderkey domain, TESTDATA.md).
    */
  def bucketPrunedLookup(s: SparkSession, dir: String): DataFrame = {
    val (li, _) = bucketedOrderkeyTables(s, dir)
    li.filter(col("l_orderkey") === 0L)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .orderBy("l_linenumber")
  }

  private val bucketLookupOracle = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem WHERE l_orderkey = 0 ORDER BY l_linenumber
"""

  val queries: Map[String, QueryDef] = Map(
    "pipeline_manifest_diff" ->
      QueryDef(manifestDiff, Some(manifestDiffOracle)),
    "zorder_layout_stats" -> QueryDef(zorderStats, Some(zorderStatsOracle)),
    "pipeline_compaction_plan" ->
      QueryDef(compactionPlan, Some(compactionOracle)),
    "pipeline_zone_map_pruning" ->
      QueryDef(zoneMapPruning, Some(zoneMapOracle)),
    "bucketed_colocated_join" ->
      QueryDef(bucketedColocatedJoin, Some(bucketedJoinOracle)),
    "bucketed_items_histogram" ->
      QueryDef(bucketedItemsHistogram, Some(itemsHistogramOracle)),
    "bucket_pruned_lookup" ->
      QueryDef(bucketPrunedLookup, Some(bucketLookupOracle))
  )
}
