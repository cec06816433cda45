package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, ExpressionSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.LogicalRDD

private[graft] object SessionMemo {
  /** Every memo instance. They live in static operator objects, so this is
    * a bounded, process-lifetime set.
    */
  private val instances =
    new java.util.concurrent.CopyOnWriteArrayList[SessionMemo[_]]()

  /** Global LRU clock: bumped on every memo touch (hit or store). */
  private val clock = new java.util.concurrent.atomic.AtomicLong(0L)

  private def tick(): Long = clock.incrementAndGet()

  /** Bound the block-manager bytes held by a session's memoized checkpoints
    * (the r10 verdict's 100×-suite finding: bases that outgrow storage
    * memory slow every later query).
    *
    * MUST be called only BETWEEN queries: a checkpoint's lineage is
    * truncated, so a plan still reading evicted blocks cannot recompute
    * them. Between queries no plan is outstanding and the memo is the only
    * owner, which is why this is an explicit call at query boundaries
    * (Bench, Verify), not a cap inside [[SessionMemo.getOrElseUpdate]].
    *
    * Least-recently-touched checkpoints are unpersisted and dropped from
    * their memo until the rest fit `budgetBytes`; the next touch of a
    * dropped key runs its body again. Each entry owns its blocks (the memo
    * made them), so no other entry can lose them. Returns the evicted keys.
    */
  private[graft] def enforceBudget(s: SparkSession, budgetBytes: Long)
      : Seq[String] = {
    val sizes: Map[Int, Long] = s.sparkContext.getRDDStorageInfo
      .map(i => i.id -> (i.memSize + i.diskSize)).toMap
    def bytes(c: Checkpoint): Long = sizes.getOrElse(c.rdd.id, 0L)
    val held = instances.asScala.toSeq
      .flatMap(m => m.entries(s).collect {
        case (key, c: Checkpoint, tick) => (m, key, c, tick) })
      .sortBy(_._4) // oldest first
    var total = held.map(h => bytes(h._3)).sum
    // the filter reads `total` as each eviction lowers it
    for ((m, key, c, _) <- held if total > budgetBytes) yield {
      total -= bytes(c)
      c.rdd.unpersist(blocking = false)
      m.drop(s, key)
      key
    }
  }
}

/** Per-session, per-key memo for values the queries of one session share.
  *
  * One rule: a memo value holds no session. The memo is keyed weakly by
  * the [[SparkSession]] and holds each session's entries strongly, so a
  * live session keeps its entries through any collection, and a session
  * nothing else references is collected together with them. A value that
  * referenced its session would keep its own weak key reachable forever;
  * that is why a DataFrame is never a value here: [[FrameMemo]] stores
  * the session-free parts of a frame's checkpoint instead.
  *
  * A body runs at most once per (session, key). The memo is locked only to
  * find the key's cell; the body runs under that cell's own lock, so a
  * running Spark job holds up no other key and no other session. A body
  * that throws stores nothing, and the next caller runs it again.
  */
private[graft] final class SessionMemo[V] {

  /** One key's value (once computed) and its last-touch tick (LRU order). */
  private final class Cell {
    @volatile var value: Option[V] = None
    @volatile var tick: Long = 0L

    def get(compute: => V): V = synchronized {
      if (value.isEmpty) value = Some(compute)
      tick = SessionMemo.tick()
      value.get
    }
  }

  private val sessions =
    new java.util.WeakHashMap[SparkSession, mutable.Map[String, Cell]]()

  SessionMemo.instances.add(this)

  def getOrElseUpdate(s: SparkSession, key: String)(compute: => V): V =
    sessions.synchronized {
      sessions.computeIfAbsent(s, _ => mutable.Map.empty[String, Cell])
        .getOrElseUpdate(key, new Cell)
    }.get(compute)

  /** A session's computed entries: key, value, last-touch tick. */
  private def entries(s: SparkSession): Seq[(String, V, Long)] =
    sessions.synchronized {
      Option(sessions.get(s)).toSeq.flatMap(_.toSeq.flatMap {
        case (k, c) => c.value.map(v => (k, v, c.tick)) })
    }

  private def drop(s: SparkSession, key: String): Unit =
    sessions.synchronized { Option(sessions.get(s)).foreach(_.remove(key)) }
}

/** A memo of DataFrames that owns their materialization: a body returns
  * its frame unmaterialized, and the memo `localCheckpoint`s it once per
  * (session, key). It keeps only the parts of the checkpoint's
  * `LogicalRDD` leaf that hold no session, and every call rebinds them to
  * the caller's session, with the same attribute ids, so plans built on a
  * hit equal those built on the first call.
  */
private[graft] final class FrameMemo {
  private val memo = new SessionMemo[Checkpoint]

  def getOrElseUpdate(s: SparkSession, key: String)(body: => DataFrame)
      : DataFrame = {
    val c = memo.getOrElseUpdate(s, key)(Checkpoint(body))
    GraftSqlBridge.ofRdd(s, c.output, c.rdd, c.partitioning, c.ordering,
      c.stats, c.constraints)
  }
}

/** The session-free parts of a checkpointed frame's `LogicalRDD` leaf. */
private[graft] final case class Checkpoint(output: Seq[Attribute],
    rdd: RDD[InternalRow], partitioning: Partitioning,
    ordering: Seq[SortOrder], stats: Statistics, constraints: ExpressionSet)

private[graft] object Checkpoint {
  def apply(df: DataFrame): Checkpoint =
    df.localCheckpoint().queryExecution.analyzed match {
      case lr: LogicalRDD => Checkpoint(lr.output, lr.rdd,
        lr.outputPartitioning, lr.outputOrdering, lr.computeStats(),
        lr.constraints)
    }
}
