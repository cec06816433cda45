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

  /** Spark jobs started while `body` runs. A marker job before and after
    * the body fences the count: the listener bus delivers events in order,
    * so once the closing marker's start event arrives, every job the body
    * started has been seen, and nothing from earlier tests is counted.
    */
  def sparkJobsStartedBy(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-fence-open")
      body
      marker("jobs-fence-close")
      val seen = Iterator.continually(
        Option(starts.poll(60, java.util.concurrent.TimeUnit.SECONDS))
          .getOrElse(fail("listener bus did not deliver the fence job")))
        .takeWhile(_ != "jobs-fence-close").toSeq
      seen.dropWhile(_ != "jobs-fence-open").size - 1
    } finally sc.removeSparkListener(listener)
  }
}
