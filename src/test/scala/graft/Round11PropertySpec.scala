package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Round-11 laws.
  *
  * Count-Min heavy hitters (`stats_cms_heavyhitters`, the registry's
  * fourth deliberate rows-only entry): the sketch's defining guarantees
  * stand in for the cross-engine hash gate, checked against the exact
  * hash-checked postings the query itself carries:
  *   1. never-underestimate — a CMS point query is a min over counters
  *      that each received every occurrence of the item, so
  *      est ≥ exact always;
  *   2. the ε·N overestimate band — est ≤ exact + ε·N with
  *      ε = 2/width; probabilistic in general, deterministic here where
  *      the vocabulary (≲100 distinct terms) is far below the 2048-wide
  *      counter rows, so collisions cannot stack N;
  *   3. merge losslessness — the per-source-merged sketch is
  *      BYTE-identical to the single global sketch (counter addition over
  *      identical dims is exact), surfaced by the query as the
  *      `merged_equals_global` column.
  *
  * Hard-negative mining (`ann_hard_negatives`) is fully hash-gated by its
  * DuckDB oracle; the law here pins the candidate bound that the oracle
  * cannot see: the pool is exactly `NegPoolSize` rows, so per-anchor work
  * is O(|pool|) by construction.
  */
class Round11PropertySpec extends SparkSpec {

  test("cms heavy hitters: never-underestimate, ε·N band, lossless merge") {
    val out = ops.StatsOps.cmsHeavyHitters(spark, sfDir).collect()
    assert(out.length == 20)
    val totalOcc = ops.TextOps.termTf(spark, sfDir)
      .agg(sum("tf")).collect().head.getLong(0)
    val epsN = math.ceil(2.0 / 2048 * totalOcc).toLong
    out.foreach { case Row(term: String, exact: Long, est: Long, merged: Boolean) =>
      assert(est >= exact, s"CMS underestimated '$term': est=$est < exact=$exact")
      assert(est <= exact + epsN,
        s"'$term' outside the ε·N band: est=$est exact=$exact epsN=$epsN")
      assert(merged, "merged per-source sketch != global sketch bytes")
    }
  }

  test("cms estimates cover EVERY term, not just the top-20 frame") {
    // point-query the merged sketch for the full vocabulary: the laws must
    // hold off the heavy-hitter path too (the top-20 frame is presentation,
    // not a soundness boundary)
    graft.functions.VectorFunctions.register(spark)
    val tf = ops.TextOps.termTf(spark, sfDir)
    val sk = tf.agg(
      call_function("cms_sketch_2048", col("term"), col("tf")).as("sk"))
    val exact = tf.groupBy("term").agg(sum("tf").as("exact_occ"))
    val rows = exact.crossJoin(broadcast(sk))
      .select(col("term"), col("exact_occ"),
        call_function("cms_estimate", col("sk"), col("term")).as("est_occ"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { case Row(term: String, ex: Long, est: Long) =>
      assert(est >= ex, s"CMS underestimated '$term': $est < $ex")
    }
  }

  test("kll quantiles: rank-error band, bounds order, exact merge accounting") {
    // KLL is a sampling sketch (unseeded compaction coins, merge-order
    // dependence) — the gate is the published normalized-rank-error law
    // against exact order statistics, at DOUBLE the k=200 band so the 99%
    // confidence bound cannot flake the suite, plus the components that ARE
    // exact: stream-length accounting and the independent disc-quantile twin.
    val out = ops.StatsOps.kllQuantiles(spark, sfDir).collect()
    assert(out.nonEmpty)
    val rows = Registry.table(spark, sfDir, "orders")
      .select(col("o_orderpriority"),
        (col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(30, 2)) * lit(100))
          .cast("long").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val bySeg = rows.groupBy(_._1).map { case (k, a) => k -> a.map(_._2).sorted }
    val all = rows.map(_._2).sorted
    val eps = 2 * org.apache.datasketches.kll.KllSketch
      .getNormalizedRankError(200, false)
    def rankLaw(xs: Array[Long], p: Double, est: Long, what: String): Unit = {
      val n = xs.length.toDouble
      val less = xs.count(_ < est)
      val leq = xs.count(_ <= est)
      assert(less + 1 <= (p + eps) * n + 1 && leq >= (p - eps) * n - 1,
        s"$what: $est has rank [${less + 1}, $leq] outside p=$p ±$eps of n=$n")
    }
    out.foreach { r =>
      val seg = r.getString(0)
      val xs = bySeg(seg)
      rankLaw(xs, 0.5, r.getAs[Long]("est_p50_cents"), s"seg $seg p50")
      rankLaw(xs, 0.9, r.getAs[Long]("est_p90_cents"), s"seg $seg p90")
      rankLaw(all, 0.5, r.getAs[Long]("merged_est_p50_cents"), "merged p50")
      rankLaw(all, 0.9, r.getAs[Long]("merged_est_p90_cents"), "merged p90")
      assert(r.getAs[Boolean]("seg_n_matches"), s"seg $seg lost stream length")
      assert(r.getAs[Boolean]("merge_preserves_n"), "merge lost stream length")
      assert(r.getAs[Long]("lb_p50_cents") <= r.getAs[Long]("est_p50_cents") &&
        r.getAs[Long]("est_p50_cents") <= r.getAs[Long]("ub_p50_cents"),
        s"seg $seg: p50 estimate outside its own quantile bounds")
      // the query's exact disc twin == an independent Scala order statistic
      val exactP50 = xs(math.ceil(0.5 * xs.length).toInt - 1)
      assert(r.getAs[Long]("exact_p50_cents") == exactP50,
        s"seg $seg: exact disc p50 ${r.getAs[Long]("exact_p50_cents")} != $exactP50")
    }
  }

  test("kll bounds: Spark's sketch bytes give the library's quantile and bounds") {
    // one sketch collected once (KLL compaction is random, so re-running
    // the aggregate would draw different bytes); the query's bound helper
    // and Spark's quantile function must read those bytes exactly as
    // datasketches' own KllLongsSketch does
    import spark.implicits._
    val bytes = Registry.table(spark, sfDir, "orders")
      .agg(kll_sketch_agg_bigint(
        (col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(30, 2)) * lit(100))
          .cast("long"), ops.StatsOps.KllK))
      .collect().head.getAs[Array[Byte]](0)
    val lib = org.apache.datasketches.kll.KllLongsSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(bytes))
    val sk = Seq(Tuple1(bytes)).toDF("sk")
    for (p <- Seq(0.5, 0.9)) {
      val r = sk.select(
          kll_sketch_get_quantile_bigint(col("sk"), lit(p)),
          ops.StatsOps.kllQuantileBound(col("sk"), p, upper = false),
          ops.StatsOps.kllQuantileBound(col("sk"), p, upper = true))
        .head()
      assert(r.getLong(0) == lib.getQuantile(p), s"estimate at p=$p")
      assert(r.getLong(1) == lib.getQuantileLowerBound(p), s"lower bound at p=$p")
      assert(r.getLong(2) == lib.getQuantileUpperBound(p), s"upper bound at p=$p")
    }
  }

  test("hard negatives: every negative comes from the fixed 64-row pool") {
    val out = ops.Similarity.hardNegatives(spark, sfDir)
    val poolIds = Registry.table(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .orderBy(col("h"), col("vec_id")).limit(64)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val negIds = out.select("neg_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(negIds.nonEmpty && negIds.subsetOf(poolIds),
      s"negatives escaped the pool: ${negIds -- poolIds}")
    // per-anchor output is capped at NegK and labels genuinely differ
    val labels = Registry.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"))
    val joined = out
      .join(labels.withColumnRenamed("vec_id", "anchor_id")
        .withColumnRenamed("label", "anchor_label"), "anchor_id")
      .join(labels.withColumnRenamed("vec_id", "neg_id")
        .withColumnRenamed("label", "neg_label"), "neg_id")
    assert(joined.filter(col("anchor_label") === col("neg_label")).count() == 0)
    val maxPerAnchor = out.groupBy("anchor_id").count()
      .agg(max("count")).collect().head.getLong(0)
    assert(maxPerAnchor <= 4)
  }
}
