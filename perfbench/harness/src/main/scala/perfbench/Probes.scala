package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Additive named counters, written from listener threads. */
final class Counters {
  private val m = new ConcurrentHashMap[String, java.lang.Double]()

  def add(k: String, v: Double): Unit =
    m.merge(k, v, (a: java.lang.Double, b: java.lang.Double) => a + b)

  def snapshot: Map[String, Double] =
    m.asScala.iterator.map { case (k, v) => k -> v.doubleValue }.toMap
}

object Counters {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

/** Spark job and task counts, and actions: root SQL executions plus jobs
  * started outside any SQL execution. The jobs AQE starts for the stages
  * of one execution count as one action.
  */
final class EngineListener(c: Counters) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c.add("spark_jobs", 1)
    if (e.properties == null || e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY) == null)
      c.add("actions", 1)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    // an execution nested in another (a command's inner query) is part of it
    case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
      c.add("actions", 1)
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = c.add("spark_tasks", 1)
}

/** Final-plan facts and SQLMetrics of every completed query execution,
  * including the writes the jobs run internally. Under AQE the final
  * plan is read through the adaptive node and its query stages.
  */
final class PlanListener(c: Counters) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    c.add("sql_ns", durationNs.toDouble)
    PlanFacts.walk(qe.executedPlan, c)
  }

  // a failed execution surfaces as the harness operation's error
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
}

object PlanFacts {
  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  def walk(p: SparkPlan, c: Counters): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, c)
    case s: QueryStageExec => walk(s.plan, c)
    case _: ReusedExchangeExec => c.add("plan_reused_exchanges", 1)
    case _ =>
      val cls = p.getClass.getSimpleName
      cls match {
        case "ShuffleExchangeExec" => c.add("plan_exchanges", 1)
        case "RDDScanExec" => c.add("plan_existing_rdd_scans", 1)
        case "BroadcastHashJoinExec" | "BroadcastNestedLoopJoinExec" =>
          c.add("plan_broadcast_joins", 1)
        case "SortMergeJoinExec" => c.add("plan_sort_merge_joins", 1)
        case _ =>
      }
      if (cls.contains("Scan")) {
        c.add("exec_rows_scanned", metric(p, "numOutputRows"))
        c.add("exec_files_read", metric(p, "numFiles"))
      }
      if (cls.contains("Writ") || cls.contains("Command")) {
        c.add("exec_files_written", metric(p, "numFiles"))
        c.add("exec_bytes_written", metric(p, "numOutputBytes"))
        c.add("exec_write_commit_ms",
          metric(p, "jobCommitTime") + metric(p, "taskCommitTime"))
      }
      if (cls.contains("Aggregate")) c.add("exec_agg_ms", metric(p, "aggTime"))
      if (cls == "WholeStageCodegenExec")
        c.add("exec_codegen_ms", metric(p, "pipelineTime"))
      c.add("exec_shuffle_bytes", metric(p, "shuffleBytesWritten"))
      c.add("exec_shuffle_write_ns", metric(p, "shuffleWriteTime"))
      c.add("exec_spill_bytes", metric(p, "spillSize"))
      p.children.foreach(walk(_, c))
      p.subqueries.foreach(walk(_, c))
  }
}

/** Per-trigger phase durations of every streaming micro-batch. */
final class StreamListener(c: Counters) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    p.durationMs.asScala.foreach { case (k, v) => c.add(s"stream_${k}_ms", v.doubleValue) }
    c.add("stream_input_rows", p.numInputRows.toDouble)
    if (p.numInputRows > 0) c.add("stream_batches", 1)
  }
}

/** Local file system that counts directory listings; installed as
  * `fs.file.impl` in traced runs only. A listing that calls another
  * listing counts once.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def listStatus(f: Path): Array[FileStatus] = counted(super.listStatus(f))

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(super.listLocatedStatus(f))
}

object CountingFileSystem {
  val calls = new AtomicLong
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  private def counted[T](f: => T): T = {
    if (depth.get == 0) calls.incrementAndGet()
    depth.set(depth.get + 1)
    try f finally depth.set(depth.get - 1)
  }

  def snapshot: Map[String, Double] = Map("fs_list_calls" -> calls.get.toDouble)
}

/** JVM-wide readings that need no listener. */
object Jvm {
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble

  def codegenCompiles: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

  def snapshot: Map[String, Double] =
    Map("jvm_gc_ms" -> gcMs, "jvm_codegen_compiles" -> codegenCompiles)
}

/** Everything the harness reads, registered on one session's context. */
final class Probes(spark: SparkSession, traced: Boolean) {
  val counters = new Counters
  private val engine = new EngineListener(counters)
  private val plans = new PlanListener(counters)
  private val streams = new StreamListener(counters)

  /** Task events come from the shared context; SQL and streaming events
    * are per session, so each new session is attached on its own.
    */
  def enable(): Unit = { spark.sparkContext.addSparkListener(engine); attach(spark) }

  def disable(): Unit = { spark.sparkContext.removeSparkListener(engine); detach(spark) }

  def attach(s: SparkSession): Unit = {
    s.listenerManager.register(plans)
    s.streams.addListener(streams)
  }

  def detach(s: SparkSession): Unit = {
    s.listenerManager.unregister(plans)
    s.streams.removeListener(streams)
  }

  /** All counters after every posted event was delivered. */
  def read(): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    counters.snapshot ++ Jvm.snapshot ++
      (if (traced) CountingFileSystem.snapshot else Map.empty)
  }

  /** Block-manager bytes and blocks of every cached or checkpointed RDD. */
  def storage(): (Double, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(i => (i.memSize + i.diskSize).toDouble).sum,
      infos.map(_.numCachedPartitions.toDouble).sum)
  }
}
