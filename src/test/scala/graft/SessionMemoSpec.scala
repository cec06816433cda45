package graft

import java.lang.ref.WeakReference
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** Session memos: a value holds no session, the memo owns the checkpoint,
  * a body runs once per (session, key) without holding up other keys or
  * sessions, and eviction frees exactly the evicted entry's blocks.
  */
class SessionMemoSpec extends SparkSpec {

  /** The query mix's memo consumers (`perfbench/mix.txt`). */
  private val mixMemoQueries =
    Seq("ts_rsi14", "dedup_clusters", "curated_corpus", "ann_knn_join")

  /** The queries whose per-call base is a memo of its own: the kNN family
    * and curated_corpus.
    */
  private val annCurationQueries = Seq("ann_knn_join", "ann_knn_join_dedup",
    "ann_knn_expand_members", "curated_corpus")

  private def query(s: SparkSession, name: String): DataFrame =
    Registry.all(name).fn(s, sfDir)

  private def runQuery(s: SparkSession, name: String): Unit =
    query(s, name).write.format("noop").mode("overwrite").save()

  /** A result's rows in a fixed order. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Runs `body` on its own thread; the thread is returned started. */
  private def onThread(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.setDaemon(true)
    t.start()
    t
  }

  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def storedBytes(id: Int): Long =
    spark.sparkContext.getRDDStorageInfo.filter(_.id == id)
      .map(i => i.memSize + i.diskSize).sum

  test("two threads calling one key run the body once") {
    val memo = new SessionMemo[Int]
    val runs = new AtomicInteger(0)
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def get(): Int = memo.getOrElseUpdate(spark, "k") {
      runs.incrementAndGet(); entered.countDown()
      release.await(30, TimeUnit.SECONDS); 42
    }
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val a = onThread(got.add(get()))
    assert(entered.await(30, TimeUnit.SECONDS))
    val b = onThread(got.add(get()))
    // b waits on the key's cell until a's body returns
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (b.getState != Thread.State.BLOCKED && System.nanoTime() < deadline)
      Thread.sleep(5)
    assert(b.getState == Thread.State.BLOCKED)
    release.countDown()
    a.join(30000); b.join(30000)
    assert(got.toArray.toSeq == Seq(42, 42))
    assert(runs.get == 1)
  }

  test("a running body holds up no other session and no other key") {
    val memo = new SessionMemo[Int]
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val blocked = onThread(memo.getOrElseUpdate(spark, "k") {
      entered.countDown(); release.await(60, TimeUnit.SECONDS); 1
    })
    try {
      assert(entered.await(30, TimeUnit.SECONDS))
      val other = spark.newSession()
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val callers = Seq(
        onThread(got.add(memo.getOrElseUpdate(other, "k")(2))),
        onThread(got.add(memo.getOrElseUpdate(spark, "k2")(3))))
      callers.foreach(_.join(10000))
      assert(got.toArray.toSeq.sortBy(_.asInstanceOf[Int]) == Seq(2, 3),
        "a call waited behind another session's or key's running body")
    } finally {
      release.countDown()
      blocked.join(30000)
    }
  }

  test("a body that throws stores nothing; the next caller runs it again") {
    val memo = new SessionMemo[Int]
    intercept[IllegalStateException] {
      memo.getOrElseUpdate(spark, "k")(throw new IllegalStateException("x"))
    }
    assert(memo.getOrElseUpdate(spark, "k")(5) == 5)
    assert(memo.getOrElseUpdate(spark, "k")(6) == 5)
  }

  test("a memo value's analyzed plan is one LogicalRDD leaf") {
    // the persist()-style values (Dedup's pair list and substring spans)
    // are checkpointed by their memo like every other
    for (df <- Seq(ops.Dedup.jaccardPairs(spark, sfDir),
        ops.Dedup.substringSpans(spark, sfDir),
        ops.TimeSeriesOps.daily(spark, sfDir))) {
      val plan = df.queryExecution.analyzed
      assert(plan.isInstanceOf[LogicalRDD], s"not one LogicalRDD:\n$plan")
    }
  }

  test("a hit rebinds the checkpoint with the body's attribute ids") {
    val memo = new FrameMemo
    val s = spark.newSession()
    var body: DataFrame = null
    val first = memo.getOrElseUpdate(s, "k") {
      body = s.range(100).toDF("k").withColumn("v", col("k") % 7); body
    }
    val hit = memo.getOrElseUpdate(s, "k")(fail("must be a hit"))
    assert(!(first eq hit) && sameCheckpoint(first, hit))
    assert(hit.queryExecution.analyzed.output.map(_.exprId) ==
      body.queryExecution.analyzed.output.map(_.exprId))
    assert(hit.sparkSession eq s)
    assert(hit.orderBy("k").collect().toSeq ==
      body.orderBy("k").collect().toSeq)
    // a self-join on the rebound frame resolves and runs
    val self = hit.as("a").join(hit.as("b"), col("a.k") === col("b.v"))
    assert(self.count() == 100L)
  }

  test("a live session's memo hit survives GC and starts no Spark job") {
    val s = spark.newSession()
    val first = ops.TimeSeriesOps.daily(s, sfDir)
    val firstMap = ops.DedupClusters.clusterMap(s, sfDir)
    (1 to 3).foreach(_ => System.gc())
    var hits: Seq[DataFrame] = Nil
    val jobs = sparkJobsStartedBy {
      hits = Seq(ops.TimeSeriesOps.daily(s, sfDir),
        ops.DedupClusters.clusterMap(s, sfDir))
    }
    assert(jobs == 0, s"memo hit started $jobs Spark job(s)")
    assert(sameCheckpoint(first, hits(0)) && sameCheckpoint(firstMap, hits(1)))
  }

  test("a memo-warm kNN or curation query starts no Spark job and equals " +
      "a memo-cold run") {
    val faults = annCurationQueries.flatMap { name =>
      val cold = rows(query(spark.newSession(), name))
      val s = spark.newSession()
      runQuery(s, name)
      var warm: DataFrame = null
      val jobs = sparkJobsStartedBy { warm = query(s, name) }
      Seq(s"memo-warm $name started $jobs Spark job(s)" -> (jobs == 0),
        s"memo-warm $name differs from memo-cold" -> (rows(warm) == cold))
        .collect { case (fault, false) => fault }
    }
    assert(faults.isEmpty, faults.mkString("; "))
  }

  test("after eviction to a 1-byte budget the kNN and curation queries " +
      "rebuild their bases and return their first results") {
    val s = spark.newSession()
    val first = annCurationQueries.map(n => rows(query(s, n)))
    assert(SessionMemo.enforceBudget(s, 1L).nonEmpty)
    for ((name, expected) <- annCurationQueries.zip(first)) {
      var again: DataFrame = null
      val jobs = sparkJobsStartedBy { again = query(s, name) }
      assert(jobs > 0, s"$name was still a memo hit after eviction")
      assert(rows(again) == expected, s"$name differs after eviction")
    }
    SessionMemo.enforceBudget(s, 0L) // leave no blocks behind
  }

  /** A session that ran the mix's memo consumers, then was dropped: only
    * the returned weak reference to it is left (a separate method, so no
    * stack slot of the caller keeps it).
    */
  private def droppedMixSession(): WeakReference[SparkSession] = {
    val s = spark.newSession()
    mixMemoQueries.foreach(runQuery(s, _))
    new WeakReference(s)
  }

  test("a dropped session that ran the mix's memo consumers is collected") {
    val ref = droppedMixSession()
    SparkSession.setActiveSession(spark)
    // Spark's exchange thread pools hand the active session down to the
    // threads they start during a query (an InheritableThreadLocal), and
    // such a thread keeps it until it idles out after 60 s; nothing else
    // may hold the session past that
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(90)
    var collected = false
    while (!collected && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(500); collected = ref.get == null
    }
    assert(collected, "a memo kept a dropped session reachable")
  }

  test("enforceBudget evicts LRU-first, frees blocks, and recompute works") {
    val memo = new FrameMemo
    // a session of its own, so the LRU order is this test's alone
    val s = spark.newSession()
    var builds = 0
    def get(key: String): DataFrame = memo.getOrElseUpdate(s, key) {
      builds += 1; s.range(10000).toDF("id")
    }
    val idA = checkpointRddId(get("a"))
    val idB = checkpointRddId(get("b"))
    get("a") // touch a: b becomes LRU-oldest
    assert(idA != idB && Set(idA, idB).subsetOf(persisted()))
    val bytesA = storedBytes(idA)
    assert(bytesA > 0, "checkpointed blocks should have measurable size")
    // budget = just a's bytes -> exactly the LRU-oldest (b) is evicted
    val ev1 = SessionMemo.enforceBudget(s, bytesA)
    assert(ev1 === Seq("b"), s"expected LRU eviction of b, got $ev1")
    assert(persisted()(idA), "a's blocks must survive")
    assert(!persisted()(idB), "b's blocks must be unpersisted")
    // evicted entry recomputes on next touch; survivor stays a hit
    assert(builds === 2)
    get("b")
    assert(builds === 3, "evicted entry must recompute")
    get("a")
    assert(builds === 3, "survivor must still be a memo hit")
    SessionMemo.enforceBudget(s, 0L) // leave no blocks behind
    assert(!persisted()(idA))
  }

  test("a memo value built on another memo's value owns its blocks") {
    val memo = new FrameMemo
    val s = spark.newSession()
    val base = memo.getOrElseUpdate(s, "base")(s.range(20000).toDF("id"))
    val derived = memo.getOrElseUpdate(s, "derived")(
      base.filter(col("id") % 2 === 0))
    assert(checkpointRddId(base) != checkpointRddId(derived))
    // budget = derived's bytes: the older base is evicted, and the
    // derived value still reads its own, intact checkpoint
    val ev = SessionMemo.enforceBudget(s,
      storedBytes(checkpointRddId(derived)))
    assert(ev === Seq("base"), s"unexpected eviction: $ev")
    assert(!persisted()(checkpointRddId(base)))
    assert(memo.getOrElseUpdate(s, "derived")(fail("must be a hit"))
      .count() === 10000L)
    SessionMemo.enforceBudget(s, 0L)
  }
}
