package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — ScalaTest
  * suites run sequentially in the forked test JVM, and getOrCreate reuses it).
  */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    // same extension posture as GraftSession: plan-quality tests must see
    // the engine's own optimizer rules (derived predicates, as-of pushdown)
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    // same listing cap as GraftSession: a parallel file listing runs at
    // most one task per shuffle partition, not one task per path
    .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", "4")
    // same class-loader posture as GraftSession: new and cloned sessions
    // reuse the compiled code of the ones before them
    .config("spark.sql.artifact.isolation.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** sf0.001 testdata dir (driver-generated; TESTDATA.md). */
  val sfDir = "/root/testdata/sf0.001"

  /** The confs `GraftSession.builder(master, 8)` sets, read from the
    * builder without starting a session.
    */
  def graftSessionOptions(master: String): Map[String, String] = {
    val b = GraftSession.builder(master, 8)
    val f = Iterator.iterate[Class[_]](b.getClass)(_.getSuperclass)
      .takeWhile(_ != null)
      .flatMap(_.getDeclaredFields.find(_.getName == "options"))
      .next()
    f.setAccessible(true)
    f.get(b).asInstanceOf[scala.collection.mutable.HashMap[String, String]]
      .toMap
  }

  /** Classes Spark's code generator compiled while `body` ran, driver and
    * (local-mode) executor side; a cache hit compiles none.
    */
  def codegenCompilesBy(body: => Any): Long = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** The id of the checkpoint RDD a memoized frame reads: its analyzed
    * plan is one `LogicalRDD` leaf.
    */
  def checkpointRddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      case p => fail(s"not a memoized frame:\n$p")
    }

  /** Whether two frames read the same memo entry's checkpoint. */
  def sameCheckpoint(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    checkpointRddId(a) == checkpointRddId(b)

  /** Spark jobs started while `body` runs. */
  def sparkJobsStartedBy(body: => Any): Int = sparkJobTasksStartedBy(body).size

  /** Tasks run by each Spark job that `body` started, in start order. A
    * marker job before and after the body fences the count: the listener
    * bus delivers events in order, so once the closing marker's start
    * event arrives, every job the body started has been seen, and nothing
    * from earlier tests is counted. A job's tasks are those of the stages
    * it submitted; a stage skipped because its shuffle output already
    * exists runs none.
    */
  def sparkJobTasksStartedBy(body: => Any): Seq[Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageSubmitted}
    val sc = spark.sparkContext
    // Left: a job start (description, stage ids); Right: a submitted
    // stage (stage id, tasks)
    val events =
      new java.util.concurrent.LinkedBlockingQueue[Either[(String, Seq[Int]), (Int, Int)]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.put(Left((Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""), e.stageIds)))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        events.put(Right((e.stageInfo.stageId, e.stageInfo.numTasks)))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    def isMarker(name: String)(ev: Either[(String, Seq[Int]), (Int, Int)]) =
      ev.left.exists(_._1 == name)
    sc.addSparkListener(listener)
    try {
      marker("jobs-fence-open")
      body
      marker("jobs-fence-close")
      val seen = Iterator.continually(
        Option(events.poll(60, java.util.concurrent.TimeUnit.SECONDS))
          .getOrElse(fail("listener bus did not deliver the fence job")))
        .takeWhile(!isMarker("jobs-fence-close")(_)).toSeq
        .dropWhile(!isMarker("jobs-fence-open")(_)).drop(1)
      // a stage belongs to the latest job started before it that lists it
      // (a later job lists it too, as skipped, when it reuses its output)
      val jobs = scala.collection.mutable.ArrayBuffer.empty[(Set[Int], Int)]
      seen.foreach {
        case Left((_, stages)) => jobs += ((stages.toSet, 0))
        case Right((id, n)) =>
          val j = jobs.lastIndexWhere(_._1(id))
          if (j >= 0) jobs(j) = (jobs(j)._1, jobs(j)._2 + n)
      }
      jobs.map(_._2).toSeq
    } finally sc.removeSparkListener(listener)
  }
}
