package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}

/** Optimization-round tooling: dump `.explain("formatted")` for named
  * registry queries to files (the before/after plan evidence the judge
  * checks claims against). Usage:
  *
  *   PlanDump <sfDir> <outDir> <suffix> [query,query,... | all] [exec]
  *
  * Writes `<outDir>/<query>_<suffix>.txt`. Default is read-only: builds each
  * query's DataFrame and prints the static plan without executing it. With
  * the optional `exec` flag it first runs the query through the noop sink
  * (guide §1.4) and dumps the FINAL adaptive plan — the ground truth on AQE
  * join rewrites, coalescing, and query-stage reuse that the static plan
  * cannot show. Each query also prints its shuffle, broadcast and reused
  * exchanges, counted on the nodes of the plan it dumps.
  */
object PlanDump {

  /** The nodes of a physical plan: AQE's adaptive node and its query
    * stages are read through, and a reused exchange is a leaf (its subtree
    * runs once, where it first appears). After the plan has run, this is
    * its final plan.
    */
  def finalPlanNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => finalPlanNodes(a.executedPlan)
    case s: QueryStageExec => finalPlanNodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case p => p +: (p.children ++ p.subqueries).flatMap(finalPlanNodes)
  }

  /** Shuffle, broadcast and reused exchanges among [[finalPlanNodes]]. */
  final case class ExchangeCounts(shuffle: Int, broadcast: Int, reused: Int)

  def exchangeCounts(plan: SparkPlan): ExchangeCounts = {
    val nodes = finalPlanNodes(plan)
    ExchangeCounts(
      shuffle = nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      broadcast = nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      reused = nodes.count(_.isInstanceOf[ReusedExchangeExec]))
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, which) = args.take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val exec = args.length > 4 && args(4) == "exec"
    val names: Seq[String] =
      if (which == "all") Registry.all.keys.toSeq.sorted
      else which.split(",").map(_.trim).toSeq
    names.foreach { name =>
      Registry.all.get(name) match {
        case Some(q) =>
          try {
            val df = q.fn(spark, sfDir)
            if (exec) {
              // Execute THIS Dataset's QueryExecution (a .write/.count builds
              // its own QE, whose final adaptive plan we could not read back):
              // running the executedPlan's RDD finalizes AQE in place, so the
              // explainString below shows isFinalPlan=true with any
              // runtime join rewrites and reused query stages.
              spark.sparkContext.setJobDescription(s"plandump: $name")
              df.queryExecution.executedPlan.execute().count()
            }
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
            val ex = exchangeCounts(df.queryExecution.executedPlan)
            println(s"[plandump] $name: shuffle_exchanges=${ex.shuffle} " +
              s"broadcast_exchanges=${ex.broadcast} reused_exchanges=${ex.reused}")
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
          }
        case None => System.err.println(s"[plandump] unknown query: $name")
      }
    }
    spark.stop()
  }
}
