package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * failures.json (query name → error message; `{}` when none failed). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional memoized-base budget between queries (same knob as Bench):
    // the driver never sets it, but an eviction-correctness run
    // (SPARK_GRAFT_MEMO_BUDGET_MB=1) forces every memo base to evict and
    // recompute between queries, turning the DuckDB hash gate into an
    // end-to-end no-wrong-answers-under-eviction certificate.
    val memoBudget = Bench.envKnob("SPARK_GRAFT_MEMO_BUDGET_MB")
      .map(mb => math.max(0L, mb) * 1024 * 1024)
    // Optional comma-separated skip list for scale smokes (the driver never
    // sets it): at the 100×/1000× REPLICA corpora the pair-listing dedup
    // family's OUTPUT is quadratic in group size by corpus construction
    // (docs/ROUND15_NOTES.md §7), so an eviction-correctness run at
    // /tmp/sf10 skips exactly that family and runs everything else.
    val skip = sys.env.get("SPARK_GRAFT_VERIFY_SKIP")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filterNot(q => skip(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = String.valueOf(e.getMessage)
      }
      memoBudget.filter(_ > 0).foreach { b =>
        val ev = SessionMemo.enforceBudget(spark, b)
        if (ev.nonEmpty)
          System.err.println(s"[verify] memo budget: evicted ${ev.size} " +
            s"base(s) after $name")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def json(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failures.json"), json(failures))
    spark.stop()
  }
}
