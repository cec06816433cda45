package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Optimization-round-14 laws: each operator whose INTERNALS changed this
  * round keeps a test pinning the rewritten form to the direct derivation
  * (the focused-test rule for optimization rounds — the DuckDB oracle gate
  * proves end-to-end equality, these pin the specific internal identity the
  * rewrite leans on).
  */
class OptR14Spec extends SparkSpec {

  private def canon(df: DataFrame): Seq[String] =
    df.collect()
      .map(_.toSeq.map(String.valueOf).mkString(""))
      .toSeq.sorted

  test("ts daily bars memo equals the direct events aggregation and memo-hits") {
    val direct = Registry.events(spark, sfDir)
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
    assert(canon(ops.TimeSeriesOps.daily(spark, sfDir)) == canon(direct))
    assert(sameCheckpoint(ops.TimeSeriesOps.daily(spark, sfDir),
      ops.TimeSeriesOps.daily(spark, sfDir)),
      "daily bars recomputed instead of memo-hitting")
  }

  test("systematic PPS total: folded per-bucket sums equal max of the cumulative") {
    // the rewrite's identity — weights are strictly positive cents, so the
    // grand total (sum of per-bucket sums) IS the cumulative maximum
    val cents = (col("o_totalprice")
      .cast(org.apache.spark.sql.types.DecimalType(30, 2)) * lit(100))
      .cast("long")
    val o = Registry.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), cents.as("wt"))
      .withColumn("bkt", expr("o_orderkey div 4096"))
    val viaBuckets = o.groupBy("bkt").agg(sum("wt").as("bw"))
      .agg(sum("bw")).collect()(0).getLong(0)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("o_orderkey")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val viaCumMax = o.withColumn("cum", sum("wt").over(w))
      .agg(max("cum")).collect()(0).getLong(0)
    assert(viaBuckets == viaCumMax)
  }

  test("cdc shared profile: window-over-deduped form equals the join form") {
    // the r14 rewrite dropped the raw-instance shuffle + SortMergeJoin; the
    // old join form is re-derived here as the reference
    val dig = ops.Multimodal.cdcChunks(spark, sfDir)
      .select("doc_id", "chunk_md5")
    val dfd = dig.groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).as("dn"))
    val reference = dig.join(dfd, "chunk_md5")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dn") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_fraction",
        col("n_shared").cast("double") / col("n_chunks"))
      .orderBy("doc_id")
    assert(canon(ops.Multimodal.cdcSharedProfile(spark, sfDir)) ==
      canon(reference))
  }
}
