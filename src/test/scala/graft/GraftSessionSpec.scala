package graft

import org.apache.spark.sql.functions._

/** Session posture that every session built from one engine shares. */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession posture: one executor class loader for all sessions, local and cluster") {
    // per-session class loaders exist for session-added artifacts, which
    // the engine never adds; left on, they key the codegen cache apart
    for (master <- Seq("local[8]", "spark://host:7077"))
      assert(graftSessionOptions(master).get("spark.sql.artifact.isolation.enabled")
        .contains("false"), s"session artifact isolation left on ($master)")
  }

  test("a query re-run in a new session compiles no class") {
    def query(s: org.apache.spark.sql.SparkSession): Seq[org.apache.spark.sql.Row] =
      s.range(0, 5000, 1, 4)
        .select((col("id") % 13).as("k"), (col("id") * 7 + 3).as("v"))
        .groupBy("k").agg(sum("v").as("s"), max("v").as("m"))
        .orderBy("k").collect().toSeq
    val expected = query(spark)
    var again: Seq[org.apache.spark.sql.Row] = Nil
    val compiled = codegenCompilesBy { again = query(spark.newSession()) }
    assert(compiled == 0, s"$compiled classes compiled for the new session")
    assert(again == expected)
  }
}
