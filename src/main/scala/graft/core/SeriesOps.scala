package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The long-format series model (SURVEY §1.5), derived from the `events`
  * testdata table.
  *
  * Reference model (dalmatinerdb/dqe): a series is `(bucket, metric-path)`
  * with dense points at a fixed per-bucket resolution; missing points are
  * first-class "empty" cells with confidence 0 (`src/dqe_get.erl:54-60`,
  * SURVEY §1.1). Here:
  *
  *   - bucket      = "testdata" (single bucket, resolution 1000 ms)
  *   - metric path = [event_type, user_id]  → dotted name "type.user"
  *   - tags        = {type: event_type, user: user_id}  (the tag index is
  *                   just the distinct (mtype, muser) pairs — catalog DF)
  *   - slot value  = mean of event values falling in the 1 s slot
  *
  * Everything is plain DataFrame ops: the slot bucketing is one groupBy
  * (map-side combinable), the spine for gap-fill is generated distributed
  * (spark.range cross-join catalog — never on the driver), so the same plan
  * holds at 100 TB with partitioned input.
  */
object SeriesOps {
  val ResolutionMs = 1000L

  /** `events` with a normalized epoch-millis `ts_ms` column. The testdata
    * generator has shipped `ts` under three parquet encodings across
    * rounds — TIMESTAMP(NANOS) (readable only as int64 nanos via the
    * `nanosAsLong` legacy conf, SPARK-40819), TIMESTAMP_NTZ micros
    * (isAdjustedToUTC=false), and plain TIMESTAMP — so dispatch on the
    * type the scan actually produces. Nanos use *integer* division
    * (≈1.7e18 exceeds double's 2^53 mantissa); NTZ wall-clock is read as
    * UTC (sessions here pin spark.sql.session.timeZone=UTC), matching
    * the DuckDB oracle's naive-timestamp `epoch_ms`.
    */
  def events(spark: SparkSession, dir: String,
             widen: Boolean = true): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = Tables(spark, dir, "events")
    val tsMs = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_millis(col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => unix_millis(col("ts"))
    }
    // the testdata file is a single row group → a handful of input splits
    // on a 32-core box, so every downstream map stage (json-path filters,
    // regex, slot aggregation) ran on a fraction of the machine; widen is
    // a no-op on any layout with splits ≥ cores, and filters still push
    // into the scan below the inserted exchange. Callers whose plan opens
    // with its own hash exchange (the per-user session operators) pass
    // widen=false — a repartition directly under a hash partition is a
    // wasted full pass over the scan. KEYED on event_id (r20, guide
    // §2.5): the row carries the wide `props` JSON string, and keyless
    // round-robin repartition pays a local determinism sort of those
    // rows (sortBeforeRepartition) — the unique event key spreads
    // perfectly with no sort.
    val out = df.withColumn("ts_ms", tsMs.cast("long"))
    if (widen) Parallel.widenBy(out, col("event_id")) else out
  }

  /** (metric, mtype, muser, ts_ms, value) at 1 s resolution — present slots
    * only. One shuffle (the groupBy); filter on mtype/muser pushes into the
    * parquet scan of `events` before the shuffle.
    *
    * Memoized + persisted per (session, dir): in production the series
    * table IS materialized storage (core/Layout); the testdata path derives
    * it from raw events, and without this every one of the 90+ gate
    * queries would redo the slot aggregation. The frame is small (one row
    * per occupied second) and evicted with the session.
    */
  def series(spark: SparkSession, dir: String): DataFrame =
    seriesMemo((spark, dir))(buildSeries(spark, dir))

  private val seriesMemo = new Caches.ArtifactMemo[(SparkSession, String), DataFrame]

  /** The non-materialized derivation: predicates push through the slot
    * aggregation into the raw events parquet scan. Use when scanning a
    * narrow slice of a large raw history once — the memoized [[series]]
    * is better when many queries share the table (its cached scans prune
    * via in-memory batch stats instead of parquet pushdown).
    */
  def seriesFresh(spark: SparkSession, dir: String): DataFrame =
    buildSeries(spark, dir)

  private def buildSeries(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(
        col("event_type").as("mtype"),
        col("user_id").as("muser"),
        Exact.wstart(col("ts_ms"), ResolutionMs).as("ts_ms2"))
      .agg(Exact.davg(col("value")).as("value"))
      .withColumnRenamed("ts_ms2", "ts_ms")
      .select(
        concat_ws(".", col("mtype"), col("muser")).as("metric"),
        col("mtype"), col("muser"), col("ts_ms"), col("value"))

  /** DuckDB mirror of [[series]] — keep in lockstep. The decimal→double
    * hop goes through VARCHAR ([[Exact.davgSql]] convention): DuckDB's
    * direct decimal→double cast is not correctly rounded once the scaled
    * sum exceeds 2^53, while string→double parsing matches Spark's
    * BigDecimal.doubleValue bit-for-bit at any magnitude.
    */
  val seriesSql: String =
    s"""SELECT event_type || '.' || CAST(user_id AS VARCHAR) AS metric,
      |       event_type AS mtype, user_id AS muser,
      |       CAST(epoch_ms(ts) - epoch_ms(ts) % 1000 AS BIGINT) AS ts_ms,
      |       ${Exact.davgSql("value")} AS value
      |FROM events GROUP BY 1, 2, 3, 4""".stripMargin

  /** Dense, gap-filled series over [startMs, endMs) with a confidence
    * channel: present slots carry confidence 1.0, missing slots value NULL
    * and confidence 0.0 (reference empty points, SURVEY §1.1). Optionally
    * restricted to one event_type to bound the spine.
    *
    * The spine is `spark.range` (distributed) cross-joined with the
    * (broadcastable, tiny) series catalog — no driver-side loops, scales
    * with executor count.
    */
  def gapFilled(spark: SparkSession, dir: String, startMs: Long, endMs: Long,
                mtypeFilter: Option[String] = None,
                muserMax: Option[Long] = None): DataFrame = {
    val base = series(spark, dir)
    val ser1 = mtypeFilter.fold(base)(t => base.where(col("mtype") === t))
    val ser0 = muserMax.fold(ser1)(m => ser1.where(col("muser") < m))
    val ser = ser0.where(col("ts_ms") >= startMs && col("ts_ms") < endMs)
    val catalog = ser0.select("metric", "mtype", "muser").distinct()
    // the spine enumerates the 0-ANCHORED resolution grid within
    // [startMs, endMs): stored slots are grid-floored, so a spine
    // anchored at a raw (unaligned) startMs would orphan every real
    // point — same class as the Compiler dense-leaf fix, kept in
    // lockstep with the SQL mirror below (r17 review). Grid-aligned
    // callers see the identical spine.
    val firstSlot =
      math.ceil(startMs.toDouble / ResolutionMs).toLong * ResolutionMs
    val nSlots = math.max(0L, (endMs - firstSlot + ResolutionMs - 1) /
      ResolutionMs)
    val spine = spark.range(nSlots)
      .select((lit(firstSlot) + col("id") * ResolutionMs).as("ts_ms"))
      .crossJoin(broadcast(catalog))
    spine.join(ser, Seq("metric", "mtype", "muser", "ts_ms"), "left")
      .withColumn("confidence",
        when(col("value").isNotNull, 1.0).otherwise(0.0))
  }

  /** DuckDB mirror of [[gapFilled]]: emits a WITH-clause body producing the
    * same (metric, mtype, muser, ts_ms, value, confidence) rows.
    */
  def gapFilledSql(startMs: Long, endMs: Long,
                   mtypeFilter: Option[String] = None,
                   muserMax: Option[Long] = None): String = {
    val conds = mtypeFilter.map(t => s"mtype = '$t'").toSeq ++
      muserMax.map(m => s"muser < $m").toSeq
    val f = if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
    // mirror of the Scala spine's grid alignment: first slot =
    // ceil(start / res) * res (identical to start for aligned callers)
    val firstSlot = math.ceil(startMs.toDouble / ResolutionMs).toLong *
      ResolutionMs
    s"""WITH series AS ($seriesSql),
       |base AS (SELECT * FROM series$f),
       |cat AS (SELECT DISTINCT metric, mtype, muser FROM base),
       |spine AS (SELECT c.metric, c.mtype, c.muser, CAST(r.range AS BIGINT) AS ts_ms
       |          FROM cat c CROSS JOIN range($firstSlot, $endMs, ${ResolutionMs}) r),
       |gapfilled AS (
       |  SELECT s.metric, s.mtype, s.muser, s.ts_ms, b.value,
       |         CASE WHEN b.value IS NOT NULL THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS confidence
       |  FROM spine s LEFT JOIN (SELECT * FROM base
       |                          WHERE ts_ms >= $startMs AND ts_ms < $endMs) b
       |  USING (metric, mtype, muser, ts_ms))""".stripMargin
  }
}
