package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Production storage layout for the series table at 100 TB (SURVEY §4
  * "time-range pushdown" → partition pruning):
  *
  *   series/dt=YYYY-MM-DD/  (parquet, sorted by (metric, ts_ms) in-file)
  *
  * - **dt partitioning**: every DQL timeframe is a ts range; pruning
  *   eliminates all out-of-range days before any IO. A 14-day query on 3
  *   years of data touches 1.3% of files regardless of cluster size.
  * - **in-file sort by (metric, ts_ms)**: parquet row-group statistics
  *   make per-series scans skip row groups (metric min/max), and
  *   time-ordered layout keeps windowed aggregation input runs local.
  * - **declared schema**: [[Schema]] is the table's one schema, and both
  *   writers produce it — [[writeSeriesPartitioned]] from the
  *   [[SeriesOps.series]] memo, and the streaming sink of
  *   [[graft.streaming.SeriesIngest]]. [[readSeries]] reads under it
  *   through [[Tables.read]], so opening the table (and building a DQL
  *   query over [[graft.dql.LayoutStore]]) starts no schema-inference job;
  *   `dt` is still discovered from the directory names and pruned.
  *   TableCatalogSpec fails if either writer drifts from it.
  * - the testdata path (one small parquet per table) writes no files; its
  *   memo ([[SeriesOps.series]]) sorts the same way inside hash(metric)
  *   partitions. LayoutSpec writes a partitioned copy and asserts pruning
  *   in the physical plan.
  */
object Layout {
  /** the series table: the [[SeriesOps.series]] columns plus the `dt`
    * partition column
    */
  val Schema: StructType = StructType.fromDDL(
    "metric STRING, mtype STRING, muser BIGINT, ts_ms BIGINT, value DOUBLE, " +
      "dt DATE")

  /** write a (metric, …, ts_ms, value) series frame date-partitioned.
    * dt is derived timezone-INDEPENDENTLY (floor-div to UTC day number →
    * date_from_unix_date) so a layout written from a non-UTC session
    * agrees with [[rangeScan]]'s UTC dt bounds — to_date(timestamp_millis)
    * would use the session zone and drop rows near midnight.
    */
  def writeSeriesPartitioned(series: DataFrame, path: String): Unit =
    series
      .withColumn("dt", date_from_unix_date(
        ((col("ts_ms") - pmod(col("ts_ms"), lit(86400000L))) / 86400000L)
          .cast("int")))
      .repartition(col("dt"))
      .sortWithinPartitions("metric", "ts_ms")
      .write.partitionBy("dt").mode("overwrite").parquet(path)

  /** read back under [[Schema]]; time predicates on ts_ms should be paired
    * with dt predicates by the caller (or derive them here from a range).
    */
  def readSeries(spark: SparkSession, path: String): DataFrame =
    Tables.read(spark, path, Schema)

  /** range scan with explicit partition predicate derived from the ms
    * range — this is what the DQL compiler's leaf would issue in a
    * production store binding.
    */
  def rangeScan(spark: SparkSession, path: String, startMs: Long,
                endMs: Long): DataFrame = {
    val d0 = java.time.Instant.ofEpochMilli(startMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate
    val d1 = java.time.Instant.ofEpochMilli(endMs - 1)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate
    readSeries(spark, path)
      .where(col("dt") >= lit(d0.toString) && col("dt") <= lit(d1.toString))
      .where(col("ts_ms") >= startMs && col("ts_ms") < endMs)
  }
}
