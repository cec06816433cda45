package graft.jobs

import java.time.Clock
import java.time.format.DateTimeFormatter

import graft.config.JobConfig
import graft.io.Connector
import graft.meta.MetaStore
import graft.ops.{Report1, Report1SourceCols, Report1TargetCols}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The end-to-end incremental report job — reference `XetraETL.etl_report1`
  * (`xetra/transformers/xetra_transformer.py:234-244`) as
  * extract → transform → load over lazy DataFrames:
  *
  *  - extract: watermark resolves pending dates (MetaStore); the pending
  *    date prefixes that exist (Xetra has none on weekends) go to ONE
  *    multi-path CSV scan with a declared schema — partition pruning, the
  *    reference's one manual optimization (SURVEY.md §4.1). Spark's file
  *    index lists those prefixes once: on the driver while there are at
  *    most 32 of them, above that in one listing job of at most one task
  *    per core (GraftSession). The job lists no file itself. The per-file
  *    loop + concat of the reference collapses into Spark's native file
  *    splits.
  *  - transform: [[Report1.transform]] (the whole C2 chain, Catalyst-fused,
  *    lazy: building it runs no Spark job).
  *  - load: timestamped target key + format-dispatched write, where the
  *    connector skips an empty report (S4), then the watermark commit —
  *    same ordering (write before commit) as the reference, so a crash
  *    between the two reprocesses rather than loses.
  */
final class Report1Job(spark: SparkSession, cfg: JobConfig, clock: Clock) {

  // stage-progress logging, reference `XetraETL` (`xetra_transformer
  // .py:111-231`): messages flow through log4j2, so the config's
  // `logging:` section (LogSetup) gates them exactly as dictConfig does
  private val logger =
    org.apache.logging.log4j.LogManager.getLogger(classOf[Report1Job])

  private val connector = new Connector(spark, cfg.source.uri)
  private val target = new Connector(spark, cfg.target.uri)
  private val meta = new MetaStore(cfg.meta.metaUri,
    spark.sparkContext.hadoopConfiguration, clock)

  /** Declared source schema (FIXTURES.md §1) — replaces pandas inference. */
  private val schema: StructType = {
    val c = cfg.source
    StructType(cfg.source.columns.map {
      // EndPrice is read but never used by the report
      case n if n == c.colStartPrice || n == c.colMinPrice ||
        n == c.colMaxPrice || n == "EndPrice" =>
        StructField(n, DoubleType)
      case n if n == c.colTradedVol => StructField(n, LongType)
      case n => StructField(n, StringType)
    })
  }

  /** (resume date, pending date list) resolved once per run — reference
    * `XetraETL.__init__` (`xetra_transformer.py:97-102`), made an explicit
    * call instead of constructor-time I/O.
    */
  lazy val (extractDate: String, extractDates: Seq[String]) =
    meta.pendingDates(cfg.source.firstExtractDate)

  def extract(): DataFrame = {
    logger.info("Extracting source files started...")
    val bars = connector.readCsv(connector.existing(extractDates), schema)
    logger.info("Extracting source files finished.")
    bars
  }

  def transform(bars: DataFrame): DataFrame =
    Report1.transform(bars,
      Report1SourceCols(
        isin = cfg.source.colIsin, date = cfg.source.colDate,
        time = cfg.source.colTime, startPrice = cfg.source.colStartPrice,
        minPrice = cfg.source.colMinPrice, maxPrice = cfg.source.colMaxPrice,
        tradedVolume = cfg.source.colTradedVol, columns = cfg.source.columns),
      Report1TargetCols(
        openingPrice = cfg.target.colOpPrice,
        closingPrice = cfg.target.colClosPrice,
        minPrice = cfg.target.colMinPrice, maxPrice = cfg.target.colMaxPrice,
        dailyTradedVolume = cfg.target.colDailyTradedVol,
        changePrevClosing = cfg.target.colChPrevClos),
      extractDate)

  def load(report: DataFrame): Boolean = {
    val stamp = java.time.LocalDateTime.now(clock)
      .format(DateTimeFormatter.ofPattern(cfg.target.keyDateFormat))
    val key = s"${cfg.target.key}$stamp.${cfg.target.format}"
    target.write(report, key, cfg.target.format)
    logger.info("Target data successfully written.")
    meta.commit(extractDates.filter(_ >= extractDate))
    logger.info("Meta file successfully updated.")
    true
  }

  /** Job-level observability: `Dataset.observe` attaches named aggregates
    * (rows written, distinct instruments, null prev-close boundary rows)
    * that the EXISTING execution computes as it runs — no second pass over
    * the data, unlike a `count()` after the fact, and the numbers describe
    * exactly the rows the sink saw. A `QueryExecutionListener` (or
    * `observedMetrics` on the completed execution, as the spec does)
    * receives them — the hook a production run wires to its metrics
    * system.
    */
  def transformObserved(bars: DataFrame): DataFrame =
    transform(bars).observe("report1_metrics",
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows_out"),
      org.apache.spark.sql.functions.approx_count_distinct(cfg.source.colIsin)
        .as("approx_instruments"),
      org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col(cfg.target.colChPrevClos)
            .isNull, 1L).otherwise(0L)).as("null_prev_close_rows"))

  def run(): Boolean = load(transform(extract()))
}
