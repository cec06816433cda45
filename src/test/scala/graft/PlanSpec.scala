package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
  SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, HashJoin,
  SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** Plan-quality regression tests: the physical plans the engine is designed
  * around must not silently degrade (SURVEY.md §4.3 / the 100 TB posture).
  * These assert on the *executed* plan, AQE included: most on its string,
  * newer laws on its final nodes ([[finalPlanNodes]]).
  */
class PlanSpec extends SparkSpec {

  private def executedPlan(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes the plan
    // AdaptiveSparkPlan.toString prints final AND initial plans — keep only
    // the final one or exchange counts double
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  /** The nodes of `df`'s final physical plan, after running it
    * ([[PlanDump.finalPlanNodes]]).
    */
  private def finalPlanNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    PlanDump.finalPlanNodes(df.queryExecution.executedPlan)
  }

  /** PushedFilters/ReadSchema from the first parquet scan's metadata (the
    * toString form truncates them).
    */
  private def scanMeta(df: DataFrame): Map[String, String] =
    // pre-AQE physical plan: AQE wraps stages in leaf QueryStageExec nodes
    // that hide the scan from collect; pushdown metadata is decided before
    // AQE anyway
    df.queryExecution.sparkPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata
    }.getOrElse(Map.empty)

  test("filter + projection reach the parquet scan (pushdown + pruning)") {
    val meta = scanMeta(ops.CoreRelational.filterProject(spark, sfDir))
    val pushed = meta.getOrElse("PushedFilters", "")
    assert(pushed.contains("EqualTo(l_returnflag,R)"),
      s"predicate not pushed: $pushed")
    // scan must read only the needed columns, not all 11
    val read = meta.getOrElse("ReadSchema", "")
    assert(read.split(",").length <= 5, s"scan reads too many columns: $read")
  }

  test("star join broadcasts every dimension") {
    val plan = executedPlan(ops.CoreRelational.regionRevenue(spark, sfDir))
    assert(plan.split("BroadcastHashJoin").length - 1 >= 3,
      "customer/nation/region should all broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q1-style aggregation does map-side partial aggregation") {
    val plan = executedPlan(ops.CoreRelational.pricingSummary(spark, sfDir))
    assert(plan.contains("partial_sum") || plan.contains("Partial"),
      "no partial aggregation before the exchange")
  }

  test("report1 whole pipeline runs in few exchanges (window reuse)") {
    val df = ops.EventBars.report1(spark, sfDir)
    val nodes = finalPlanNodes(df)
    val plan = df.queryExecution.executedPlan.toString
    // open/close are min_by/max_by inside the (user, date) aggregate, so
    // the only window is the W3 lag: a second WindowExec means a
    // whole-row window came back in front of the aggregate
    assert(nodes.count(_.isInstanceOf[WindowExec]) == 1, plan)
    // min_by/max_by order on a timestamp time-of-day key, which fits a
    // hash aggregate's buffer; a string key plans a SortAggregate that
    // sorts every source row, partial and final
    assert(nodes.exists(_.isInstanceOf[HashAggregateExec]), plan)
    assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]), plan)
    // the window's input sort is the one sort in the report; the other
    // sort is the final orderBy's global one
    val sorts = nodes.collect { case s: SortExec => s }
    assert(sorts.count(!_.global) == 1 && sorts.count(_.global) == 1, plan)
    // one (user, date) exchange for the aggregate, one (user) exchange
    // for the lag, one range exchange for the final orderBy
    val shuffles = PlanDump.exchangeCounts(df.queryExecution.executedPlan).shuffle
    assert(shuffles <= 3, s"report1 now has $shuffles shuffle exchanges")
  }

  test("PlanDump counts exchanges on the final plan's nodes, not its text") {
    // one per-customer aggregate read twice (its second shuffle is a
    // reused stage), joined to a broadcast customer table
    val perCust = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
    val customers = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
    val df = perCust.union(perCust).join(broadcast(customers), "o_custkey")
    df.queryExecution.executedPlan.execute().count()
    assert(PlanDump.exchangeCounts(df.queryExecution.executedPlan) ==
      PlanDump.ExchangeCounts(shuffle = 1, broadcast = 1, reused = 1),
      df.queryExecution.executedPlan.toString)
    // the formatted text names each exchange in the final plan, the
    // initial plan and the node details: a text count is several times
    // the node count
    val text = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("Exchange".r.findAllIn(text).size > 3)
  }

  test("cusum: stacked windows share one event_type exchange; mean broadcasts") {
    val plan = executedPlan(ops.TimeSeriesOps.cusumAlarm(spark, sfDir))
    // the two stacked WindowExecs (prefix sum, then running extrema over
    // its output) partition identically, so they must share ONE
    // hashpartitioning(event_type) exchange; the only other event_type
    // exchange allowed is the per-type mean aggregate's own branch, and
    // that branch must come back as a broadcast, not a shuffle join
    val hashEx =
      "Exchange hashpartitioning\\(event_type".r.findAllIn(plan).size
    assert(hashEx <= 2,
      s"CUSUM grew $hashEx event_type exchanges (window reuse regressed)")
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastHashJoin"), "per-type mean not broadcast")
  }

  test("gopher rules: gram counts partially aggregate, no cartesian product") {
    val plan = executedPlan(ops.TextOps.gopherRules(spark, sfDir))
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      "no map-side combine before the (doc, gram) exchange")
    assert(!plan.contains("CartesianProduct"))
  }

  test("vector kernel participates in codegen (no interpreted fold)") {
    val df = ops.Similarity.bruteForceTopK(spark, sfDir)
    val plan = executedPlan(df)
    assert(plan.contains("vec_dot_long"), "custom kernel missing from plan")
    assert(!plan.contains("aggregate(zip_with"),
      "interpreted higher-order fold is back in the hot path")
  }

  test("broadcast threshold: probes side of ANN is broadcast, corpus streams") {
    val plan = executedPlan(ops.Similarity.bruteForceTopK(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "probe side should broadcast")
  }

  test("custom as-of strategy plans AsOfJoinExec with clustered+sorted children") {
    val df = ops.EventOps.asofCustom(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("AsOfJoin "), "custom operator not planned")
    // r14 optimized shape: the query repartitions the event projection by
    // user_id itself, which already satisfies BOTH the daily-close
    // aggregate's ClusteredDistribution(user_id, day) AND the as-of's
    // ClusteredDistribution on each side — so the ONLY hash exchanges are
    // the explicit user_id repartitions; Catalyst must insert no
    // ENSURE_REQUIREMENTS hash exchange (previously the right side was
    // re-shuffled by r_user_id after its (user_id, day) aggregate: three
    // hash exchanges, now two, and the aggregate itself is exchange-free).
    assert(plan.contains("Exchange hashpartitioning(user_id"))
    assert(!plan.contains("Exchange hashpartitioning(r_user_id"),
      "aggregate-side re-shuffle is back: the user_id repartition no " +
        "longer satisfies the as-of's right-side distribution")
    assert("hashpartitioning\\(user_id#\\d+L?, day".r.findFirstIn(plan).isEmpty,
      "daily-close aggregate re-shuffled by (user_id, day)")
    // the (key, time) sorts are still Catalyst-inserted on both sides
    assert("Sort \\[user_id.*day".r.findFirstIn(plan).isDefined ||
      plan.contains("Sort [user_id"))
    assert("Sort \\[r_user_id.*r_day".r.findFirstIn(plan).isDefined ||
      plan.contains("Sort [r_user_id"))
  }

  test("GraftExtensions at session build time exposes the functions to plain SQL") {
    import org.apache.spark.sql.SparkSession
    // `spark.sql.extensions` is a STATIC conf read from the SparkContext at
    // launch — inside a shared-context test JVM the equivalent documented
    // path is builder.withExtensions; clear the active/default session so
    // the builder constructs a fresh session that applies them
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        """SELECT vec_dot_long(array(1L, 2L), array(3L, 4L)) AS d,
          |       simhash60(array('a', 'b')) AS sh,
          |       size(minhash_sig_5_32(array('a','b','c','d','e','f'))) AS k
          |""".stripMargin).collect().head
      assert(r.getLong(0) == 11L)
      assert(r.getLong(1) != 0L)
      assert(r.getInt(2) == 32)
      // the extensions path and the per-query register() path iterate ONE
      // shared builder list; assert every listed function resolved here, so
      // a function added to register() can never again be silently missing
      // from the session-extensions path (the KLL family was, pre-list)
      for ((name, _, _) <- graft.functions.VectorFunctions.builders)
        assert(s2.sessionState.functionRegistry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
          s"extensions-built session is missing $name")
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("filters on left attributes push through the custom as-of join") {
    // Catalyst's own pushdown can't see through the opaque AsOfJoin node —
    // PushFilterThroughAsOfJoin must move the left-only conjunct below it
    // (and from there Catalyst pushes it into the scan), while the
    // right-side conjunct must stay above (it references the matched row)
    val base = ops.EventOps.asofCustom(spark, sfDir)
      .filter(col("user_id") < 10 && col("prev_close") > 0)
    base.collect()
    val optimized = base.queryExecution.optimizedPlan.toString
    val below = optimized.split("AsOfJoin", 2)(1)
    assert(below.contains("user_id") && below.contains("Filter"),
      s"left filter not pushed below AsOfJoin:\n$optimized")
    val above = optimized.split("AsOfJoin", 2)(0)
    assert(above.contains("prev_close") || above.contains("close_value"),
      s"right-side filter vanished:\n$optimized")
  }

  test("as-of join follows SQL null semantics (null keys/times never match, never NPE)") {
    import spark.implicits._
    val left = Seq(
      (Some(1L), Some(10L), "l_a"),       // normal: matches r at t=5
      (Some(1L), None, "l_null_t"),       // null time → nulls
      (None, Some(10L), "l_null_k"),      // null key → nulls
      (Some(2L), Some(10L), "l_b")        // right side has only null-time rows for k=2
    ).toDF("k", "t", "tag")
    val right = Seq(
      (Some(1L), Some(5L), "r_early"),
      (Some(1L), None, "r_null_t"),       // unmatchable
      (None, Some(1L), "r_null_k"),       // unmatchable
      (Some(2L), None, "r_b_null_t")      // unmatchable
    ).toDF("rk", "rt", "rtag")
    val out = graft.plans.AsOfJoin.dataframe(left, right,
        left("k"), right("rk"), left("t"), right("rt"))
      .select("tag", "rtag").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out("l_a") == Some("r_early"))
    assert(out("l_null_t").isEmpty)
    assert(out("l_null_k").isEmpty)
    assert(out("l_b").isEmpty)
  }

  test("cross-join grid broadcasts both dimension sides") {
    val plan = executedPlan(ops.RelationalExtras.crossJoinGrid(spark, sfDir))
    assert(plan.contains("Broadcast"),
      s"dimension-sized grid should broadcast, got:\n$plan")
  }

  test("heavy-hitter aggregation is partial before the shuffle (map-side combine)") {
    val plan = executedPlan(ops.PipelineOps.heavyHitters(spark, sfDir))
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"expected partial aggregation below the exchange:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "token counts must pre-aggregate per partition before shuffling")
  }

  test("window top-k gets Spark's rank-limit pushdown (WindowGroupLimit)") {
    // the row_number()<=k filter must become a partial+final WindowGroupLimit
    // so only k rows per group per partition reach the exchange — if this
    // ever regresses, the window form silently becomes a full sort-shuffle
    val plan = executedPlan(ops.CoreRelational.topOrdersPerCustomer(spark, sfDir))
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"rank-limit pushdown missing:\n$plan")
  }

  test("bounded top-k aggregator partially aggregates before the shuffle") {
    val plan = executedPlan(ops.CoreRelational.topOrdersBoundedAgg(spark, sfDir))
    // the custom Aggregator must run as partial ObjectHashAggregate below
    // the exchange (O(k) state per group map-side), not buffer whole groups
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"typed aggregator missing from plan:\n$plan")
    assert(plan.contains("partial_topkbyvalue") ||
      "partial_?topk".r.findFirstIn(plan.toLowerCase).isDefined,
      s"no partial aggregation phase:\n$plan")
  }

  test("selective joins get a runtime bloom filter on the fact side at scale") {
    // Spark injects bloom_filter_agg/might_contain pairs for selective
    // shuffle joins, but only above size thresholds meant for clusters
    // (application side > 10GB by default — correct at 100 TB, never at
    // test SF). Lower them to scale-representative ratios and pin that the
    // engine's plain join shape is eligible: at production scale the fact
    // scan is pre-filtered by the dimension's keys with zero code changes.
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val o = Registry.table(s, sfDir, "orders").filter(col("o_totalprice") > 499000)
    val li = Registry.table(s, sfDir, "lineitem")
    val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"runtime bloom filter not injected:\n${plan.take(2000)}")
  }

  test("Q6 predicates all reach the parquet scan") {
    val meta = scanMeta(ops.RelationalExtras.forecastRevenue(spark, sfDir))
    val pushed = meta.getOrElse("PushedFilters", "")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("LessThan(l_quantity"), s"missing pushdown: $pushed")
  }

  test("Q19 disjunctive join stays a hash join (no nested loop)") {
    val plan = executedPlan(ops.RelationalExtras.disjunctiveJoin(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"expected hash join with OR-residual:\n${plan.take(1500)}")
    assert(!plan.contains("NestedLoop"),
      "disjunction must not degrade the join to a nested loop")
  }

  test("dim-filtered join prunes fact partitions dynamically (DPP)") {
    // Dynamic partition pruning: the partition filter on the fact scan is
    // not known until the dimension side is evaluated at runtime — the
    // 100 TB join posture for a date/tenant-partitioned fact table. Pin
    // that a plain equi-join on the partition column gets the
    // dynamicpruning subquery with zero engine-code changes.
    val root = java.nio.file.Files.createTempDirectory("dpp_fact").toString
    Registry.table(spark, sfDir, "orders")
      .write.partitionBy("o_orderpriority").mode("overwrite").parquet(root)
    val s = spark.newSession()
    val fact = s.read.parquet(root)
    val dim = Registry.table(s, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"),
        concat(lit(""), when(col("c_custkey") % 5 === 0, "1-URGENT")
          .otherwise("5-LOW")).as("p"))
    val j = fact.join(dim, fact("o_orderpriority") === dim("p"))
      .groupBy("p").agg(count(lit(1)).as("n"))
    j.collect()
    val pre = j.queryExecution.sparkPlan.toString
    assert(pre.contains("dynamicpruning") || pre.contains("DynamicPruning"),
      s"no dynamic partition pruning on the fact scan:\n${pre.take(2000)}")
  }

  test("date-partitioned layout prunes partitions at scan time") {
    val root = java.nio.file.Files.createTempDirectory("partitioned").toString
    Registry.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").mode("overwrite").parquet(root)
    val pruned = spark.read.parquet(root)
      .filter(col("day") === "2024-01-05")
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day") ||
      plan.contains("day#"),
      "partition filter missing from scan")
    // only one of ~30 day-partitions may be read
    val scanned = "files read: (\\d+)".r.findFirstMatchIn(
      pruned.queryExecution.executedPlan.metrics.get("numFiles")
        .map(m => s"files read: ${m.value}").getOrElse(""))
    scanned.foreach(m => assert(m.group(1).toInt <= 2))
  }

  test("q21 one-pass rewrite: exactly one fact exchange on l_orderkey, dims broadcast") {
    val plan = executedPlan(ops.TpchShapes.q21WaitingSuppliers(spark, sfDir))
    // the whole EXISTS/NOT-EXISTS answer comes from ONE grouped pass:
    // a single hashpartitioning(l_orderkey) exchange carries all fact data
    val factExchanges =
      "Exchange hashpartitioning\\(l_orderkey".r.findAllIn(plan).size
    assert(factExchanges == 1,
      s"expected exactly 1 l_orderkey exchange, found $factExchanges:\n${plan.take(3000)}")
    // no Expand: countDistinct's gid-expansion (3x shuffle volume) must not
    // come back
    assert(!plan.contains("Expand"), "countDistinct Expand regressed the plan")
    // orders/supplier/nation all broadcast; no extra fact shuffle families
    assert(plan.split("BroadcastHashJoin").length - 1 >= 3,
      "orders filter + supplier + nation should all broadcast")
    assert(!plan.contains("SortMergeJoin"), "fact-side SMJ regressed q21")
  }

  test("AQE splits a skewed partition of a sort-merge join at runtime") {
    // the 100 TB skew posture is layered: salting for KNOWN hot keys
    // (salted_skew_agg / skew_split_join), AQE's skew-join for the UNKNOWN
    // ones. Pin that the runtime split actually engages: one key owning
    // ~90% of the fact side must come out of AQE as SortMergeJoin(skew=true)
    // — thresholds lowered so the ~MB-scale test partition qualifies.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    s.conf.set("spark.sql.shuffle.partitions", "4")
    import s.implicits._
    val fact = s.range(0, 200000)
      .select((when(col("id") % 10 < 9, 0L).otherwise(col("id"))).as("k"),
        concat(lit("payload_padding_padding_padding_"), col("id")).as("v"))
    val dim = s.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
    // global agg, NOT groupBy(k): a downstream requirement on the join's
    // hash partitioning would veto the skew split (it would need an extra
    // shuffle); consuming `v` keeps the skewed partition's bytes real
    val j = fact.join(dim, "k")
      .agg(sum(length(col("v"))).as("bytes"), count(lit(1)).as("n"))
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("skew=true"),
      s"AQE did not mark/split the skewed SMJ partition:\n${plan.take(3000)}")
  }

  test("keyless interval join runs as a bucket EQUI-join, not a nested loop") {
    val plan = executedPlan(ops.EventOps.intervalBucketJoin(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "bin expansion must turn the range join into an equi-join")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), "no hash/merge equi-join found")
  }

  test("chi2 + pagerank: iterations/derivations read checkpointed state, not the fact table") {
    // both ops materialize their tiny reduction (contingency cells / edge
    // list) with localCheckpoint; everything downstream must plan against
    // the in-memory RDD — a parquet scan in the final plan means a
    // derivation is replaying the corpus pass
    val chi = executedPlan(ops.StatsOps.chi2Independence(spark, sfDir))
    assert(!chi.contains("Scan parquet") && chi.contains("ExistingRDD"),
      s"chi2 derivations replay the fact scan:\n${chi.take(2000)}")
    val pr = executedPlan(ops.GraphOps.pagerankNations(spark, sfDir))
    assert(!pr.contains("lineitem"),
      s"pagerank iterations replay the fact join:\n${pr.take(2000)}")
    assert(!pr.contains("CartesianProduct"),
      "scalar N broadcast degraded to a cartesian product")
  }

  test("pq-adc: codebook and distance tables broadcast, no cartesian, no SMJ") {
    val plan = executedPlan(ops.Similarity.pqAdcRerank(spark, sfDir))
    assert(!plan.contains("CartesianProduct"),
      s"PQ pipeline grew a cartesian product:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      "codebook/dtab/probe joins must broadcast, not sort-merge")
    assert(plan.split("BroadcastHashJoin").length - 1 >= 3,
      "expected codebook, dtab and probe joins to broadcast")
  }

  test("decile buckets: consumers read the checkpointed scores, ONE corpus pass") {
    // the scored projection is localCheckpoint'ed; histogram, corpus count
    // and final bucket assignment must all plan against the in-memory RDD —
    // a parquet scan in the final plan means a consumer re-tokenizes the
    // corpus (3 passes instead of 1 at 100 TB)
    val plan = executedPlan(ops.CurriculumOps.decileBuckets(spark, sfDir))
    assert(!plan.contains("Scan parquet") && plan.contains("ExistingRDD"),
      s"decile bucket consumers replay the documents scan:\n${plan.take(2000)}")
  }

  test("canonical pick reuses the memoized cluster map (no pair-pipeline replay)") {
    // the (doc_id, cluster_rep) map is session-memoized: repeated calls must
    // return the identical cached DataFrame, and canonicalPick's plan must
    // never re-run the shingle/Jaccard pair pipeline (its only documents
    // access is the n_chars projection)
    val m1 = ops.DedupClusters.clusterMap(spark, sfDir)
    val m2 = ops.DedupClusters.clusterMap(spark, sfDir)
    assert(sameCheckpoint(m1, m2),
      "cluster map not memoized - union-find re-runs per call")
    val plan = executedPlan(ops.DedupClusters.canonicalPick(spark, sfDir))
    assert(!plan.contains("shingle_hashes"),
      s"canonical pick replays the shingle pipeline:\n${plan.take(2000)}")
  }

  test("semantic dedup pairs are cell-bucketed equi-joins, never vec×vec") {
    val df = ops.DedupClusters.semanticPairs(spark, sfDir)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct"),
      s"semantic pair stage grew a cartesian product:\n${plan.take(2000)}")
    // admissible nested loops are exactly the TWO two-level fan-outs:
    // fine-seeds × √cells coarse (tiny × tiny) and corpus × √cells coarse
    // (the designed O(n·√cells) pass); the fine-probe and candidate joins
    // must be hash equi-joins (coarse_id / cell key)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 2,
      s"corpus-level nested loop in semantic pair stage:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"),
      "candidate generation lost its equi-join")
  }

  test("pareto share: both selection windows see bounded input (bucket grid + one bucket)") {
    // level-1 window input is the $10k bucket grid (bounded by value range),
    // level-2 only the threshold bucket's distinct revenues — the raw
    // per-customer reduction is checkpointed and must never feed a window
    // directly. Structural proxy: the plan reads the checkpointed reduction
    // (ExistingRDD), not the orders parquet, and every Window sits above an
    // aggregation of it
    val plan = executedPlan(ops.StatsOps.paretoShare(spark, sfDir))
    assert(!plan.contains("Scan parquet") && plan.contains("ExistingRDD"),
      s"pareto share replays the orders scan past the checkpoint:\n${plan.take(2000)}")
  }

  test("knn join candidates are cell-bucketed equi-joins, never vec×vec") {
    // knnJoin itself reads its assignment side from a memo checkpoint, so
    // the law reads the two-level assignment that checkpoint is built from
    val df = ops.Similarity.knnAssignments(spark, sfDir)
    val joins = finalPlanNodes(df).collect { case j: BaseJoinExec => j }
    def show = df.queryExecution.executedPlan.toString.take(2000)
    assert(!joins.exists(_.isInstanceOf[CartesianProductExec]),
      s"knn assignment grew a cartesian product:\n$show")
    // admissible nested loops: the two two-level fan-outs (fine-seeds ×
    // √cells coarse, corpus × √cells coarse — see ivfAssignTwoLevel)
    val nested = joins.count(_.isInstanceOf[BroadcastNestedLoopJoinExec])
    assert(nested <= 2, s"corpus-level nested loop in knn assignment:\n$show")
    assert(joins.exists(j => j.isInstanceOf[HashJoin] ||
      j.isInstanceOf[SortMergeJoinExec]),
      s"knn assignment lost its fine-probe equi-join:\n$show")
  }

  test("triangle clustering iterates on the checkpointed edge list, not the fact table") {
    // edge build reduces the fact scan ONCE behind a localCheckpoint; the
    // path/probe/degree joins and the nation lookup must never re-touch
    // lineitem — at 100 TB that's the difference between O(edges) triangle
    // work and 4 fact scans
    val plan = executedPlan(ops.GraphOps.triangleClustering(spark, sfDir))
    assert(!plan.contains("lineitem"),
      s"triangle stage re-scans the fact table:\n${plan.take(2000)}")
    assert(plan.contains("ExistingRDD"),
      "triangle stage lost its checkpointed edge input")
  }

  test("bm25: broadcast 1-row stats, map-only scoring, TakeOrdered top-k") {
    val plan = executedPlan(ops.SearchOps.bm25TopK(spark, sfDir))
    // corpus stats join the per-doc stream as a broadcast (1 row) — never a
    // shuffle of document data
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), "stats not broadcast")
    assert(!plan.contains("Exchange hashpartitioning"),
      "document data shuffled — scoring must stay map-only")
    // top-k is TakeOrdered (per-partition heaps + driver merge), not a
    // global sort of every scored document
    assert(plan.contains("TakeOrderedAndProject"), "top-k lost TakeOrdered")
    assert(!"(?m)^\\s*\\*?\\(?\\d*\\)? ?Sort ".r.findFirstIn(plan).isDefined,
      "global sort appeared in bm25 plan")
  }

  test("mann-whitney: rank windows read the checkpointed histogram, not orders") {
    // both cumulative levels (bucket grid + within-bucket) must run on the
    // materialized distinct-cents histogram; re-deriving it per window
    // would be two extra fact scans at 100 TB
    val plan = executedPlan(ops.StatsOps.mannWhitney(spark, sfDir))
    assert(!plan.contains("Scan parquet") && plan.contains("ExistingRDD"),
      s"mann-whitney replays the orders scan past the checkpoint:\n${plan.take(2000)}")
  }

  test("label propagation's result plan never touches the fact table") {
    // the O(fact) edge build runs once (session-memoized) inside
    // collectedTradeEdges; the vote rounds are driver-side on the
    // nation-bounded edge list, so the RETURNED plan must be just the
    // local label relation joined to the nation dim — any lineitem scan
    // here would mean an iteration is replaying the fact join
    val plan = executedPlan(ops.GraphOps.labelPropagation(spark, sfDir))
    assert(!plan.contains("lineitem"),
      s"LPA result plan re-scans the fact table:\n${plan.take(2000)}")
    assert(plan.contains("LocalTableScan") || plan.contains("ExistingRDD"),
      "LPA lost its driver-computed label relation input")
  }

  test("ivf+pq: candidate generation is a cell equi-join, never corpus×corpus") {
    // the compound index must keep ivfMultiprobe's pruning: candidate
    // pairs come from the cell-key equi-join (and the ADC join from
    // (sub, code) equi-keys); the only nested-loop term allowed is the
    // broadcast of the 16 centroids / probe tables
    val plan = executedPlan(ops.Similarity.ivfPq(spark, sfDir))
    assert(!plan.contains("CartesianProduct"),
      s"corpus-level cartesian in ivf+pq:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"),
      "ivf+pq candidate generation lost its equi-join")
  }

  test("paragraph dedup: first-seen attribution is a hash equi-join, never corpus×corpus") {
    // span-level dedup must stay O(paragraphs): instances join the
    // first-seen aggregate on the paragraph hash only — any nested-loop or
    // cartesian term here would be an all-pairs corpus comparison at 100 TB
    val plan = executedPlan(ops.Dedup.paragraphDedup(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"corpus-level non-equi join in paragraph dedup:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"),
      "paragraph attribution lost its equi-join")
  }

  test("vocab coverage: no window at all — TakeOrdered top-k bounds the rank step") {
    // the r6 verdict's one scale-killer: rank + cumsum over the FULL
    // vocabulary in a single-task unpartitioned window. The rewrite keeps
    // the global top CoverageRanks.max via TakeOrderedAndProject and
    // resolves rank/cumsum on that ≤30-row set with a broadcast self-join,
    // so no WindowExec may appear and nothing vocabulary-sized single-tasks
    val plan = executedPlan(ops.PipelineOps.vocabCoverage(spark, sfDir))
    assert(!plan.contains("Window"),
      s"vocabulary-global window is back in the coverage plan:\n${plan.take(2000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      "coverage rank step lost its bounded TakeOrdered top-k")
  }

  test("top paths: WindowGroupLimit bounds the shuffle, agg reuses the window partitioning") {
    // the r9 watch-item audit, pinned: the rn<=4 rank filter must push a
    // partial WindowGroupLimit BELOW the exchange (only top-4-per-group
    // rows cross the wire — at 100 TB that is the difference between
    // shuffling 4 rows and a whole day of events per user) plus the final
    // one above it; the path-assembly aggregate shares the window's
    // (user_id, day) partitioning, so the whole query is two exchanges
    // (one hash, one for the path histogram) ending in a TakeOrdered
    val plan = executedPlan(ops.EventOps.topPaths(spark, sfDir))
    assert(plan.split("WindowGroupLimit").length - 1 >= 2,
      s"rank-limit pushdown lost (partial+final expected):\n${plan.take(2000)}")
    assert(plan.split("Exchange").length - 1 <= 2,
      s"top-paths gained an exchange (window/agg partitioning reuse broke):\n${plan.take(2000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-paths final top-20 lost its bounded TakeOrdered")
  }

  test("interval bucket join: bin technique keeps the keyless range join an equi-join") {
    // the point of the bucket expansion is that a keyless ts-in-interval
    // join NEVER plans as a nested-loop over two data-sized sides; the
    // interval side here is 20 rows so a broadcast HASH join on the bin
    // key is expected — but no cartesian/BNLJ term may touch the fact scan
    val plan = executedPlan(ops.EventOps.intervalBucketJoin(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"keyless range join degraded to a nested loop:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"),
      "interval bucket join lost its bin equi-join")
  }

  test("mv top-k maintenance: both arms end in TakeOrdered, no global sort") {
    // the only Sort allowed is the 25-row rank window; a range-partitioned
    // exchange would mean a distributed sort of base-table data
    val plan = executedPlan(ops.PipelineOps.mvTopkMaintenance(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k maintenance lost TakeOrdered")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"base data range-sorted in the top-k maintenance plan:\n${plan.take(2000)}")
  }

  test("bloom-pruned join: the sketch probe filters the fact scan below the join") {
    val plan = executedPlan(ops.ScalePatterns.bloomPrunedJoin(spark, sfDir))
    // the might_contain filter must survive optimization as a scan-side
    // predicate — if it folds away or floats above the join, the fact rows
    // shuffle unpruned and the pattern is dead weight
    val joinAt = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
      .map(plan.indexOf).filter(_ >= 0).minOption
      .getOrElse(fail(s"no equi-join in bloom plan:\n${plan.take(2000)}"))
    val probeAt = plan.indexOf("might_contain")
    assert(probeAt >= 0, s"bloom probe missing from plan:\n${plan.take(2000)}")
    // plans print top-down, so scan-side (deeper) means LATER in the string
    assert(probeAt > joinAt,
      s"bloom probe sits above the join, not on the scan side:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("tfidf keywords: the rank window partitions by doc_id, never global") {
    val plan = executedPlan(ops.TextOps.tfidfKeywords(spark, sfDir))
    assert("Window \\[row_number\\(\\)[^\\]]*\\], \\[doc_id".r
      .findFirstIn(plan).isDefined,
      s"top-3 window lost its doc_id partitioning:\n${plan.take(2000)}")
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      "tf/df aggregation lost map-side partials")
  }

  test("phash near-dup: banded candidates are an equi-join, never catalog x catalog") {
    val plan = executedPlan(ops.Multimodal.phashNearDup(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"phash banding degraded to an all-pairs join:\n${plan.take(2000)}")
  }

  test("priority sampling: TakeOrdered top-k, window only on the k winners") {
    // the weighted sample must never globally sort the fact table: the
    // scaled-priority top-k is a TakeOrderedAndProject, and the rank
    // window runs above the limit (bounded input), not below it
    val plan = executedPlan(ops.SamplingOps.priorityPps(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject(limit=200"),
      s"priority top-k lost its TakeOrdered:\n${plan.take(2000)}")
    assert(plan.contains("Window"),
      "rank window disappeared — the above/below pin would be vacuous")
    assert(plan.indexOf("Window") < plan.indexOf("TakeOrderedAndProject"),
      "rank window sits below the limit — it would sort the full table")
  }

  test("semantic boundaries: per-row kernel — no join, no aggregate, no pre-sort exchange") {
    // the work is document-local; the block_cosines kernel must keep it
    // that way — a Join or HashAggregate here means the relational form
    // (3.3× slower at sf1) crept back
    val plan = executedPlan(ops.ChunkingOps.semanticBoundaries(spark, sfDir))
    assert(plan.contains("Generate"),
      s"posexplode of the kernel output disappeared:\n${plan.take(2000)}")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"semantic boundaries picked up a shuffle stage:\n${plan.take(2000)}")
  }

  test("substring spans: seed equi-join + pair-diagonal window, never corpus×corpus") {
    // exact-substring dedup must stay O(co-occurring seeds): candidates
    // come from the positional posting self-join on the gram hash, and
    // the islands window partitions by (i, j, diag) — a global window or
    // a non-equi join here is an all-pairs pass at corpus scale. The spans
    // are session-memoized, so inspect their plan directly — the memoized
    // query plan would only show checkpointed rows
    val plan = executedPlan(
      ops.Dedup.spansOf(ops.Dedup.positionalPostings(spark, sfDir)))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"substring candidates degraded to an all-pairs join:\n${plan.take(2000)}")
    assert("Window \\[row_number\\(\\)[^\\]]*\\], \\[i#?[0-9L]*, j".r
      .findFirstIn(plan).isDefined,
      s"islands window lost its (i, j, diag) partitioning:\n${plan.take(2000)}")
  }

  test("substring coverage: interval-merge windows are doc-partitioned, never global") {
    val plan = executedPlan(ops.Dedup.substringCoverage(spark, sfDir))
    assert("Window \\[[^\\]]*\\], \\[doc_id".r.findFirstIn(plan).isDefined,
      s"interval-union window lost its doc_id partitioning:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"coverage picked up an all-pairs term:\n${plan.take(2000)}")
  }

  test("poisson bootstrap: replicates reduce map-side, the shuffle carries partials") {
    // the whole point of the Poisson form is that B replicates fold into
    // partial aggregates before the exchange — if partial aggregation
    // disappears, the shuffle ships the 32×-exploded fact table
    val plan = executedPlan(ops.StatsOps.poissonBootstrap(spark, sfDir))
    assert(plan.contains("partial_sum"),
      s"replicate aggregation lost its partial phase:\n${plan.take(2000)}")
    assert("Exchange hashpartitioning\\(replicate".r.findFirstIn(plan).isDefined,
      s"aggregate exchange is not keyed on replicate:\n${plan.take(2000)}")
    assert(!plan.contains("Join"),
      s"bootstrap picked up a join:\n${plan.take(2000)}")
  }

  test("prefix jaccard: candidates are a shingle equi-join, never corpus×corpus") {
    // the candidate pipeline is session-memoized (r11), so inspect it
    // directly — the memoized query plan would only show checkpointed rows
    val candPlan = executedPlan(
      ops.Dedup.prefixCandidates(ops.Dedup.shingleArrays(spark, sfDir)))
    // the prefix index must meet itself through a hash equi-join on the
    // shingle key; an all-pairs fallback here defeats the entire filter
    assert(!candPlan.contains("CartesianProduct") &&
      !candPlan.contains("BroadcastNestedLoopJoin"),
      s"prefix candidates degraded to an all-pairs join:\n${candPlan.take(2000)}")
    // the rank that defines the prefix is a doc-keyed window, not global
    assert("Window \\[row_number\\(\\)[^\\]]*\\], \\[doc_id".r
      .findFirstIn(candPlan).isDefined,
      s"prefix rank window lost its doc_id partitioning:\n${candPlan.take(2000)}")
    // and the full query (through the memo) must stay equi-join-only too
    val plan = executedPlan(ops.Dedup.prefixJaccardPairs(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix verify degraded to an all-pairs join:\n${plan.take(2000)}")
  }

  test("skyline: bucketed local frontier feeds the single final window") {
    // phase 1 must run partitioned by bucket (the distributive reduction);
    // exactly one window may be unpartitioned, and it reads only the
    // bucket survivors — any join means the quadratic definitional form
    val plan = executedPlan(ops.RelationalExtras.skylineParts(spark, sfDir))
    assert(!plan.contains("Join"),
      s"skyline picked up a join (definitional quadratic?):\n${plan.take(2000)}")
    assert("Window \\[max\\([^\\]]*\\], \\[bucket".r.findFirstIn(plan).isDefined,
      s"local frontier window lost its bucket partitioning:\n${plan.take(2000)}")
    val unpartitioned = "Window \\[[^\\]]*\\], \\[\\]".r
      .findAllIn(plan).length
    assert(unpartitioned <= 1,
      s"more than one global window in the skyline plan:\n${plan.take(2000)}")
  }

  /** All parquet scan metadata maps (scanMeta only returns the first). */
  private def scanMetas(df: DataFrame): Seq[Map[String, String]] =
    df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata
    }

  test("Q4: engine derives the non-equi transitive bound to the lineitem scan") {
    // The query states the naive form (no filter on lineitem); the
    // DeriveNonEquiJoinBounds rule must derive l_shipdate > 2000-01-01
    // from l_shipdate > o_orderdate ∧ o_orderdate >= 2000-01-01 and
    // pushdown must carry it into the lineitem parquet scan.
    val metas = scanMetas(ops.TpchShapes.q4OrderPriority(spark, sfDir))
    val li = metas.find(_.getOrElse("ReadSchema", "").contains("l_shipdate"))
    assert(li.isDefined, s"no lineitem scan found in ${metas.size} scans")
    val pushed = li.get.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThan(l_shipdate"),
      s"derived non-equi bound not pushed to the lineitem scan: $pushed")
  }

  test("Q7: engine derives the disjunctive nation domains to both nation scans") {
    // Naive form: unfiltered nation scans, pair disjunction at the top.
    // DeriveDisjunctiveDomains must derive n_name IN (13,19) for BOTH
    // nation roles and pushdown must land each in its scan.
    val metas = scanMetas(ops.TpchShapes.q7VolumeShipping(spark, sfDir))
    val nations = metas.filter(_.getOrElse("ReadSchema", "").contains("n_name"))
    assert(nations.size == 2, s"expected 2 nation scans, got ${nations.size}")
    nations.foreach { m =>
      val pushed = m.getOrElse("PushedFilters", "")
      assert(pushed.contains("In(n_name") &&
        pushed.contains("NATION_13") && pushed.contains("NATION_19"),
        s"derived domain not pushed to a nation scan: $pushed")
    }
  }

  test("Q19: engine derives the disjunctive range envelope to both scans") {
    // Every Or branch bounds l_quantity/p_size with an interval, so the
    // disjunction implies the interval UNION's envelope — the one derived
    // predicate that thins the FACT side of the Q19 shape at 100 TB.
    val metas = scanMetas(ops.RelationalExtras.disjunctiveJoin(spark, sfDir))
    val li = metas.find(_.getOrElse("ReadSchema", "").contains("l_quantity")).get
    val liPushed = li.getOrElse("PushedFilters", "")
    assert(liPushed.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      liPushed.contains("LessThanOrEqual(l_quantity,30.0)"),
      s"quantity envelope not pushed to the lineitem scan: $liPushed")
    val p = metas.find(_.getOrElse("ReadSchema", "").contains("p_size")).get
    val pPushed = p.getOrElse("PushedFilters", "")
    assert(pPushed.contains("In(p_brand") &&
      pPushed.contains("GreaterThanOrEqual(p_size,1)") &&
      pPushed.contains("LessThanOrEqual(p_size,50)"),
      s"brand domain / size envelope not pushed to the part scan: $pPushed")
  }

  test("derived predicates converge (no fixed-point churn in the optimized plan)") {
    // If either rule re-derived what it already added, the fixed-point
    // batch would accumulate duplicate conjuncts (and warn at 100
    // iterations). The optimized plans must carry each derived predicate
    // a bounded number of times.
    val q7 = ops.TpchShapes.q7VolumeShipping(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert("NATION_13".r.findAllIn(q7).length <= 8,
      s"disjunctive-domain churn:\n${q7.take(3000)}")
    val q4 = ops.TpchShapes.q4OrderPriority(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert("2000-01-01".r.findAllIn(q4).length <= 6,
      s"non-equi-bound churn:\n${q4.take(3000)}")
  }

  test("derived-predicate rules are inert on non-matching plans (identity + zero effective runs)") {
    // The 10 largest registry plans WITHOUT a qualifying shape (no
    // attr-vs-attr inequality join conjunct, no all-branch literal-pinned
    // Or): the rules must be pure overhead-free no-ops there — the
    // optimized plan is identical with the rules excluded (no added
    // Filter nodes ⟹ no extra fixed-point iterations), and the rule
    // metering records ZERO effective runs across all ten.
    val inert = Seq(
      "q1_pricing_summary", "q13_customer_distribution", "retention_cohorts",
      "events_top_paths", "search_bm25_topk", "text_langid_confusion",
      "stats_moments_corr", "funnel_conversion", "heavy_hitter_tokens",
      "join_region_revenue")
    val rules =
      "graft.plans.DeriveNonEquiJoinBounds,graft.plans.DeriveDisjunctiveDomains"
    // exprIds and the global lambda-variable counter differ between two
    // constructions of the same query — normalize both before comparing
    def norm(p: String): String =
      p.replaceAll("#\\d+", "#x").replaceAll("\\bx_\\d+", "x_n")
    val meter = org.apache.spark.sql.catalyst.rules.QueryExecutionMetering.INSTANCE
    meter.resetMetrics()
    val on = inert.map(n =>
      n -> norm(Registry.all(n).fn(spark, sfDir).queryExecution.optimizedPlan.toString))
    val dump = meter.dumpTimeSpent()
    Seq("DeriveNonEquiJoinBounds", "DeriveDisjunctiveDomains").foreach { r =>
      val line = dump.linesIterator.find(_.contains(r))
      assert(line.isDefined, s"$r never ran (not registered?)\n$dump")
      val eff = "(\\d+) / (\\d+)\\s*$".r.findFirstMatchIn(line.get).map(_.group(1))
      assert(eff.contains("0"),
        s"$r reported effective runs on inert plans: ${line.get}")
    }
    spark.conf.set("spark.sql.optimizer.excludedRules", rules)
    try {
      inert.zip(on).foreach { case (n, (_, onPlan)) =>
        val offPlan = norm(
          Registry.all(n).fn(spark, sfDir).queryExecution.optimizedPlan.toString)
        assert(onPlan == offPlan,
          s"rule changed an inert plan ($n):\nON:\n${onPlan.take(1500)}\nOFF:\n${offPlan.take(1500)}")
      }
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }
}
