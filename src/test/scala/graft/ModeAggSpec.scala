package graft

import org.apache.spark.sql.functions._

/** Spark's built-in `mode(col, deterministic = true)`, which
  * `stats_mode_custom_agg` uses: exact mode, nulls ignored, equal counts
  * break to the smallest value under any partitioning — the tie rule the
  * query's DuckDB oracle (`ORDER BY n DESC, o_orderpriority`) depends on.
  */
class ModeAggSpec extends SparkSpec {
  import spark.implicits._

  test("mode picks the most frequent value") {
    val df = Seq("a", "b", "b", "c", "b").toDF("v")
    val out = df.agg(mode(col("v"), deterministic = true)).as[String].head()
    assert(out === "b")
  }

  test("ties break to the smallest value regardless of partitioning") {
    // "z" and "a" both appear twice; each repartitioning must yield "a"
    val vals = Seq("z", "a", "z", "a", "m")
    for (parts <- Seq(1, 2, 5)) {
      val df = spark.sparkContext.parallelize(vals, parts).toDF("v")
      val out = df.agg(mode(col("v"), deterministic = true)).as[String].head()
      assert(out === "a", s"with $parts partitions")
    }
  }

  test("nulls are ignored; all-null group yields null") {
    val df = Seq(Some("x"), None, Some("x"), None).toDF("v")
    assert(df.agg(mode(col("v"), deterministic = true)).as[String].head() === "x")
    val allNull = Seq[Option[String]](None, None).toDF("v")
    assert(allNull.agg(mode(col("v"), deterministic = true)).as[Option[String]]
      .head().isEmpty)
  }

  test("usable from plain SQL as mode(p, true)") {
    Seq(("F", "1-URGENT"), ("F", "1-URGENT"), ("F", "5-LOW")).toDF("s", "p")
      .createOrReplaceTempView("mode_sql_probe")
    val out = spark.sql(
      "SELECT mode(p, true) FROM mode_sql_probe GROUP BY s").as[String].head()
    assert(out === "1-URGENT")
  }
}
