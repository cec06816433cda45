package graft

import graft.ops.CoreRelational
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-18 laws: the eager pre-aggregation below ROLLUP/CUBE/GROUPING SETS
  * (CoreRelational.marginAgg). Spark plans every multi-set aggregate as
  * Aggregate-over-Expand and Expand replicates each input row once per
  * grouping set, so aggregating to the exact key grid FIRST must be
  * value-identical — decimal partials re-summed per set are exactly what
  * the direct plan's partial aggregation computes. Laws pin the identity
  * on real data, on data with genuine NULL keys (structural subtotal NULLs
  * vs data NULLs stay separated by grouping_id in both forms), and on
  * EMPTY input (where a grouping-sets aggregate emits no rows in either
  * form — unlike a global GROUP BY ()).
  */
class Round18PropertySpec extends SparkSpec {

  private def canon(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq
      .map(_.toSeq.map(v => if (v == null) "∅" else v.toString))
      .sortBy(_.mkString("|"))

  /** The pre-marginAgg (direct) form, kept here as the law's oracle. */
  private def directRollup(base: DataFrame): DataFrame =
    base.rollup("k1", "k2").agg(
      grouping_id().cast("long").as("gid"),
      count(lit(1)).as("n"),
      sum(col("v").cast(DecimalType(30, 2))).cast("double").as("sum_price"))

  private def eagerRollup(base: DataFrame): DataFrame = {
    val pre = base.groupBy("k1", "k2").agg(
      count(lit(1)).as("_n"),
      sum(col("v").cast(DecimalType(30, 2))).as("_s"))
    pre.rollup("k1", "k2").agg(
      grouping_id().cast("long").as("gid"),
      sum(col("_n")).as("n"),
      sum(col("_s")).cast("double").as("sum_price"))
  }

  private val schema = StructType(Seq(
    StructField("k1", StringType), StructField("k2", StringType),
    StructField("v", DoubleType)))

  private def df(rows: Seq[(String, String, Double)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 3),
      schema)

  test("marginAgg identity: eager == direct on a mixed fixture") {
    val base = df(Seq(
      ("A", "x", 1.25), ("A", "x", 2.50), ("A", "y", 10.00),
      ("B", "x", 0.75), ("B", "y", 3.00), ("B", "y", 4.25),
      ("C", "x", 100.10)))
    assert(canon(eagerRollup(base)) == canon(directRollup(base)))
  }

  test("marginAgg identity: data NULL keys stay separated from subtotal NULLs") {
    // gid distinguishes a genuine NULL data key (gid=0 detail row with
    // k2=null) from the structural subtotal NULL (gid=1) — in BOTH forms.
    val base = df(Seq(
      ("A", null, 5.00), ("A", "x", 1.00), (null, "x", 2.00)))
    val eager = canon(eagerRollup(base))
    assert(eager == canon(directRollup(base)))
    // detail row for (A, null-data) exists alongside the (A, *) subtotal
    assert(eager.count(r => r(0) == "A" && r(1) == "∅") == 2)
  }

  test("marginAgg seam: empty input emits no rows in either form") {
    // A grouping-sets aggregate with nonempty grouping expressions emits
    // ZERO rows on empty input (unlike a global GROUP BY ()) — measured,
    // not assumed; the eager form must agree exactly.
    val base = df(Seq.empty)
    val direct = canon(directRollup(base))
    assert(direct.isEmpty)
    assert(canon(eagerRollup(base)) == direct)
  }

  test("GraftSession posture: AQE-chosen reducer counts and rescaled runtime-filter thresholds") {
    // initialPartitionNum must exceed the pinned shuffle parallelism (AQE
    // can only coalesce DOWN — with initial == parallelism a 1000×-corpus
    // exchange spills multi-GB reducer partitions, the r18 sweep's 16-28×
    // last-decade signature), and the runtime bloom-filter thresholds must
    // be rescaled from their cluster-sized defaults (10 GiB probe / 10 MiB
    // build) under which the injection NEVER fires at a measurable shape.
    for (master <- Seq("local[8]", "spark://host:7077")) {
      val o = graftSessionOptions(master)
      assert(o("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        .toInt == 64, s"initial reducer count must be 8x parallelism ($master)")
      assert(o("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
        .toLong == (256L << 20), s"probe-side threshold unrescaled ($master)")
      assert(o("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
        .toLong == (256L << 20), s"build-side threshold unrescaled ($master)")
    }
  }

  test("registry forms: rollup/cube/grouping-sets margins re-add to their details") {
    // Internal consistency on real data: every subtotal level must equal
    // the sum of its detail cells — a broken re-aggregation (double sums,
    // lost partials) cannot pass this.
    val roll = CoreRelational.rollupRevenue(spark, sfDir).collect()
    val detailN = roll.filter(_.getLong(2) == 0L).map(_.getLong(3)).sum
    val flagN = roll.filter(_.getLong(2) == 1L).map(_.getLong(3)).sum
    val grandN = roll.filter(_.getLong(2) == 3L).map(_.getLong(3)).sum
    assert(detailN == grandN && flagN == grandN)
    val detailS = roll.filter(_.getLong(2) == 0L).map(_.getDouble(4)).sum
    val grandS = roll.filter(_.getLong(2) == 3L).map(_.getDouble(4)).sum
    assert(math.abs(detailS - grandS) < 1e-6 * math.max(1.0, math.abs(grandS)))

    val cube = CoreRelational.cubeOrders(spark, sfDir).collect()
    val cDetail = cube.filter(_.getLong(2) == 0L).map(_.getLong(3)).sum
    val cGrand = cube.filter(_.getLong(2) == 3L).map(_.getLong(3)).sum
    assert(cDetail == cGrand)

    val gs = CoreRelational.groupingSets(spark, sfDir).collect()
    val gDetail = gs.filter(_.getLong(2) == 0L).map(_.getLong(3)).sum
    val gFlag = gs.filter(_.getLong(2) == 1L).map(_.getLong(3)).sum
    val gStatus = gs.filter(_.getLong(2) == 2L).map(_.getLong(3)).sum
    assert(gDetail == gFlag && gFlag == gStatus)
  }
}
