package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable engine query: the Spark plan plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL the driver hash-compares against.
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Central query registry. Each operator module under `graft.ops` contributes
  * a map of named queries; SparkEntry/Verify/Bench all read from here.
  */
object Registry {
  lazy val all: Map[String, QueryDef] = Seq(
    ops.EventBars.queries,
    ops.CoreRelational.queries,
    ops.EventOps.queries,
    ops.TextOps.queries,
    ops.Dedup.queries,
    ops.Similarity.queries,
    ops.Multimodal.queries,
    ops.StatsOps.queries,
    ops.ScalePatterns.queries,
    ops.CollectionOps.queries,
    ops.Curation.queries,
    ops.DedupClusters.queries,
    ops.SamplingOps.queries,
    ops.RelationalExtras.queries,
    ops.TpchShapes.queries,
    ops.ChunkingOps.queries,
    ops.PipelineOps.queries,
    ops.QualityOps.queries,
    ops.SearchOps.queries,
    ops.LayoutOps.queries,
    ops.TimeSeriesOps.queries,
    ops.PartSuppOps.queries,
    ops.CurriculumOps.queries,
    ops.GraphOps.queries
  ).reduce(_ ++ _)

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Session conf every `events` read path needs BEFORE resolving the
    * parquet schema: `nanosAsLong` so a TIMESTAMP(NANOS) file surfaces as
    * LongType instead of failing (PARQUET_TYPE_ILLEGAL). This is the ONLY
    * session mutation — the NTZ→timestamp conversion in
    * [[normalizeEventTs]] carries its own explicit UTC zone, so a
    * caller-provided non-UTC session keeps its timezone (and all its other
    * timestamp behavior) untouched by an events read.
    */
  def prepareEventConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  /** Normalize a raw `events` scan's `ts` to TimestampType (microseconds),
    * adaptively per the file's physical encoding. The driver's parquet has
    * stored `ts` two ways across rounds:
    *  - TIMESTAMP(NANOS), which Spark 4 rejects by default; with
    *    `nanosAsLong` it surfaces as a LongType of epoch-nanos, converted
    *    via `timestamp_micros`. Integer `div`, NOT `/`: double division at
    *    epoch-nano magnitude (~1.7e18 > 2^53) is off by 1ns-truncation for
    *    ~1.6% of values. The data carries no sub-microsecond component
    *    (ns % 1000 == 0), so this is lossless.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    *    TIMESTAMP_NTZ; rebuilt as a TimestampType instant via
    *    `make_timestamp(..., 'UTC')` — the zone is explicit in the
    *    expression, NOT taken from the session, so the conversion is
    *    timezone-independent on any caller session without mutating
    *    `spark.sql.session.timeZone` (a plain NTZ→timestamp cast would
    *    interpret the wall clock in the session zone). Field extraction
    *    from NTZ is itself zone-free, and `extract(SECOND)` is
    *    DECIMAL(8,6) so microseconds survive exactly.
    * Any third encoding fails loudly instead of silently miscasting.
    *
    * Shared by the batch path ([[events]]) and the streaming path
    * (`EventStream.readEvents`) so a driver-side re-encoding of the
    * testdata can never split the two again.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case TimestampNTZType =>
        df.withColumn("ts", expr(
          "make_timestamp(year(ts), month(ts), day(ts), hour(ts), " +
            "minute(ts), extract(SECOND FROM ts), 'UTC')"))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other — expected epoch-nanos " +
          "LongType, TimestampType, or TimestampNTZType")
    }
  }

  /** `events` with `ts` normalized to TimestampType — see
    * [[normalizeEventTs]] for the schema-adaptive contract.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    prepareEventConfs(spark)
    normalizeEventTs(table(spark, dir, "events"))
  }
}
