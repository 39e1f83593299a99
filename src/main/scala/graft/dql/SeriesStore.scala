package graft.dql

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.SeriesOps

/** Storage/tag-index abstraction behind the DQL compiler (the reference's
  * `ddb_connection` + `dqe_idx` seams, SURVEY §1.5): provides per-bucket
  * resolution, the long-format series frame, the tag-column mapping, and
  * the event stream. Swap this for a production catalog (Delta tables,
  * partitioned parquet) without touching the compiler.
  */
trait SeriesStore {
  def resolutionMs(bucket: String): Long
  /** (metric, <tag cols...>, ts_ms, value) */
  def series(spark: SparkSession, bucket: String): DataFrame
  /** Range-bounded scan — the storage seam where time-range pushdown
    * lives (the reference converts ranges to exact storage reads,
    * `src/dql_resolution.erl:131-135`). The default filters `ts_ms`;
    * partitioned bindings override to add partition predicates so the
    * range prunes files before any IO.
    */
  def scanRange(spark: SparkSession, bucket: String, startMs: Long,
                endMs: Long): DataFrame =
    series(spark, bucket).where(
      org.apache.spark.sql.functions.col("ts_ms") >= startMs &&
        org.apache.spark.sql.functions.col("ts_ms") < endMs)
  /** Multi-range scan — the reference's leaf reads take range LISTS with
    * per-range endpoints (`src/dqe_get.erl:25-36`, produced by exotic index
    * answers). One union of pruned per-range scans: each branch keeps its
    * own partition pruning, and Catalyst merges adjacent scans where
    * possible. Ranges are assumed non-overlapping (as the reference's
    * resolver guarantees); overlapping ranges would duplicate rows,
    * exactly like stacked reference reads.
    */
  def scanRanges(spark: SparkSession, bucket: String,
                 ranges: Seq[(Long, Long)]): DataFrame = {
    require(ranges.nonEmpty, "scanRanges: empty range list")
    ranges.map { case (s, e) => scanRange(spark, bucket, s, e) }
      .reduce(_ union _)
  }
  /** Stable identity of the store's corpus for (session, corpus)-keyed
    * memo artifacts ([[DqlArtifacts]]): two store instances over the
    * same data must return the same key, and a store over refreshed
    * data a different one after [[graft.core.Caches.evictArtifacts]].
    * Directory-backed stores return the directory path. A store over
    * a SUBSET or derived view of a corpus dir must use the
    * `<dir>#<suffix>` convention: evictArtifacts(dir) also matches
    * `dir#…` keys, so a refresh of the underlying files invalidates
    * the derived store's artifacts too. ABSTRACT on
    * purpose — a class-name default would silently share one key (and
    * one frozen artifact) across every instance of a multi-corpus
    * store class, and evictArtifacts(dir) could never match it.
    */
  def corpusKey: String
  /** DQL `ns:key` tag → physical column name */
  def tagCol(ns: String, key: String): Option[String]
  def tagCols: Seq[String]
  def events(spark: SparkSession, bucket: String): DataFrame
  /** Corpus table for the north-star pipeline functions registered in
    * [[Resolver.pipelineFns]] (`documents`, `embeddings`). Stores that
    * bind only metric series leave the default.
    */
  def table(spark: SparkSession, name: String): DataFrame =
    throw new UnsupportedOperationException(
      s"store has no corpus table '$name'")
}

/** Production-layout binding: the date-partitioned series table written by
  * [[graft.core.Layout]]. Same DQL, same compiler — the overridden
  * [[scanRange]] adds the dt partition predicates, so every query's
  * timeframe prunes partitions before IO (verified in LayoutStoreSpec).
  * Both reads go through [[graft.core.Layout.readSeries]] under the
  * declared [[graft.core.Layout.Schema]], so building a query over a
  * growing table lists its files but runs no schema-inference job
  * (TableCatalogSpec).
  */
final class LayoutStore(path: String,
                        resolution: Long = graft.core.SeriesOps.ResolutionMs)
    extends SeriesStore {
  override def corpusKey: String = path
  def resolutionMs(bucket: String): Long = resolution
  def series(spark: SparkSession, bucket: String): DataFrame =
    graft.core.Layout.readSeries(spark, path)
      .drop("dt")
  override def scanRange(spark: SparkSession, bucket: String, startMs: Long,
                         endMs: Long): DataFrame =
    graft.core.Layout.rangeScan(spark, path, startMs, endMs).drop("dt")
  def tagCol(ns: String, key: String): Option[String] = key match {
    case "type" => Some("mtype")
    case "user" => Some("muser")
    case _      => None
  }
  val tagCols: Seq[String] = Seq("mtype", "muser")
  def events(spark: SparkSession, bucket: String): DataFrame =
    throw new UnsupportedOperationException(
      "LayoutStore holds metric series only")
}

/** The driver-testdata store: one bucket ("testdata") at 1 s resolution,
  * series derived from `events` (SURVEY §1.5 mapping; FIXTURES.md B),
  * tags `type` (event_type) and `user` (user_id).
  */
final class TestdataStore(dir: String) extends SeriesStore {
  override def corpusKey: String = dir
  def resolutionMs(bucket: String): Long = SeriesOps.ResolutionMs
  def series(spark: SparkSession, bucket: String): DataFrame =
    SeriesOps.series(spark, dir)
  def tagCol(ns: String, key: String): Option[String] = key match {
    case "type" => Some("mtype")
    case "user" => Some("muser")
    case _      => None
  }
  val tagCols: Seq[String] = Seq("mtype", "muser")
  def events(spark: SparkSession, bucket: String): DataFrame =
    SeriesOps.events(spark, dir)
  override def table(spark: SparkSession, name: String): DataFrame =
    graft.core.Tables(spark, dir, name)
}
