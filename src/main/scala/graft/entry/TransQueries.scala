package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SeriesOps
import graft.ops.Trans

/** Gate queries for the pointwise transforms and constant arithmetic
  * (SURVEY §2.3). The scale transforms are exercised over a *signed* input
  * (value − 100, i.e. chained after `sub(m, 100)`) so the signed-sqrt /
  * signed-log10 branches are actually covered; arithmetic runs on the raw
  * series. `derivate` and `confidence` get dedicated queries.
  */
object TransQueries extends QueryProvider {
  private val Scale = Seq("abs", "sqrt_scale", "log10_scale", "min", "max")
  private val Arith = Seq("add", "sub", "mul", "divide")
  private def const(n: String): Option[Double] = n match {
    case "min" | "max"                       => Some(50.0)
    case "add" | "sub" | "mul" | "divide"    => Some(2.5)
    case _                                   => None
  }

  private val DayStart = 1704412800000L

  private def base(s: SparkSession, dir: String): DataFrame =
    SeriesOps.series(s, dir).where(col("mtype") === "purchase")

  private def out(df: DataFrame): DataFrame =
    df.select("metric", "ts_ms", "value").orderBy("metric", "ts_ms")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Scale.map { n => s"trans_$n" -> ((s: SparkSession, d: String) =>
      out(base(s, d).withColumn("value",
        Trans.spark(n, const(n))(col("value") - 100.0))))
    }.toMap ++
    Arith.map { n => s"arith_$n" -> ((s: SparkSession, d: String) =>
      out(base(s, d).withColumn("value",
        Trans.spark(n, const(n))(col("value")))))
    }.toMap ++ Map(
      "trans_derivate" -> ((s: SparkSession, d: String) =>
        out(Trans.derivate(base(s, d)))),
      "trans_confidence" -> ((s: SparkSession, d: String) =>
        out(Trans.confidence(SeriesOps.gapFilled(s, d, DayStart,
          DayStart + 3600000L, Some("purchase"), muserMax = Some(10L))))),
      // trailing-60-point z-score anomaly flags over the purchase series
      "series_zscore" -> ((s: SparkSession, d: String) =>
        graft.ops.Rolling.zscore(base(s, d), n = 60, threshold = 3.0)
          .orderBy("metric", "ts_ms")),
      // dyadic 8-point EWMA smoothing over the purchase series
      "series_ewma" -> ((s: SparkSession, d: String) =>
        graft.ops.Rolling.ewma(base(s, d), n = 8)
          .orderBy("metric", "ts_ms")),
      // counter-reset-aware per-second rate over the purchase series
      "series_rate" -> ((s: SparkSession, d: String) =>
        graft.ops.Rolling.rate(base(s, d))
          .orderBy("metric", "ts_ms")),
      // robust trailing-15 MAD anomaly flags over the purchase series
      "series_mad" -> ((s: SparkSession, d: String) =>
        graft.ops.Rolling.mad(base(s, d), n = 15, threshold = 3.0)
          .orderBy("metric", "ts_ms")),
      // seasonal-naive daily forecast error over hourly per-type series
      "series_snaive" -> ((s: SparkSession, d: String) =>
        graft.ops.Rolling.snaive(hourly(s, d), 86400000L)
          .orderBy("metric")),
      // CUSUM drift detector over the purchase series (ref above the
      // corpus mean so the score resets; h splits real data)
      "series_cusum" -> ((s: SparkSession, d: String) =>
        graft.ops.Rolling.cusum(base(s, d), ref = 60.0, threshold = 100.0)
          .orderBy("metric", "ts_ms")),
      // Holt level+trend smoother over the purchase series
      "series_holt" -> ((s: SparkSession, d: String) =>
        graft.ops.Rolling.holt(base(s, d))
          .orderBy("metric", "ts_ms")))

  /** hourly per-event-type series — coarse enough to be dense, so the
    * exact daily season-back slot usually exists */
  private def hourly(s: SparkSession, d: String): DataFrame =
    SeriesOps.events(s, d)
      .groupBy(col("event_type").as("metric"),
        graft.core.Exact.wstart(col("ts_ms"), 3600000L).as("ts_ms"))
      .agg(graft.core.Exact.davg(col("value")).as("value"))

  private def withSeries(body: String): String =
    s"WITH series AS (${SeriesOps.seriesSql})\n$body"

  def oracle: Map[String, String] =
    Scale.map { n => s"trans_$n" -> withSeries(
      s"""SELECT metric, ts_ms, ${Trans.sql(n, const(n), "(value - 100.0)")} AS value
         |FROM series WHERE mtype = 'purchase' ORDER BY metric, ts_ms""".stripMargin)
    }.toMap ++
    Arith.map { n => s"arith_$n" -> withSeries(
      s"""SELECT metric, ts_ms, ${Trans.sql(n, const(n), "value")} AS value
         |FROM series WHERE mtype = 'purchase' ORDER BY metric, ts_ms""".stripMargin)
    }.toMap ++ Map(
      "trans_derivate" -> withSeries(
        s"""SELECT metric, ts_ms, value FROM (
           |${Trans.derivateSql("(SELECT * FROM series WHERE mtype = 'purchase')")}
           |) ORDER BY metric, ts_ms""".stripMargin),
      "trans_confidence" ->
        s"""${SeriesOps.gapFilledSql(DayStart, DayStart + 3600000L, Some("purchase"), Some(10L))}
           |SELECT metric, ts_ms, confidence AS value
           |FROM gapfilled ORDER BY metric, ts_ms""".stripMargin,
      "series_zscore" ->
        s"""WITH series AS (${SeriesOps.seriesSql}),
           |base AS (SELECT metric, ts_ms, value FROM series
           |         WHERE mtype = 'purchase'),
           |${graft.ops.Rolling.zscoreSql(60, 3.0)}
           |ORDER BY metric, ts_ms""".stripMargin,
      "series_ewma" ->
        s"""WITH series AS (${SeriesOps.seriesSql}),
           |base AS (SELECT metric, ts_ms, value FROM series
           |         WHERE mtype = 'purchase'),
           |${graft.ops.Rolling.ewmaSql(8)}
           |ORDER BY metric, ts_ms""".stripMargin,
      "series_rate" ->
        s"""WITH series AS (${SeriesOps.seriesSql}),
           |base AS (SELECT metric, ts_ms, value FROM series
           |         WHERE mtype = 'purchase'),
           |${graft.ops.Rolling.rateSql}
           |ORDER BY metric, ts_ms""".stripMargin,
      "series_mad" ->
        s"""WITH series AS (${SeriesOps.seriesSql}),
           |base AS (SELECT metric, ts_ms, value FROM series
           |         WHERE mtype = 'purchase'),
           |${graft.ops.Rolling.madSql(15, 3.0)}
           |ORDER BY metric, ts_ms""".stripMargin,
      "series_snaive" ->
        s"""WITH base AS (SELECT event_type AS metric,
           |    ${graft.core.Exact.wstartSql("epoch_ms(ts)", 3600000L)} AS ts_ms,
           |    ${graft.core.Exact.davgSql("value")} AS value
           |  FROM events GROUP BY 1, 2),
           |${graft.ops.Rolling.snaiveSql(86400000L)}
           |ORDER BY metric""".stripMargin,
      "series_cusum" ->
        s"""WITH series AS (${SeriesOps.seriesSql}),
           |base AS (SELECT metric, ts_ms, value FROM series
           |         WHERE mtype = 'purchase'),
           |${graft.ops.Rolling.cusumSql(60.0, 100.0)}
           |ORDER BY metric, ts_ms""".stripMargin,
      "series_holt" ->
        s"""WITH RECURSIVE series AS (${SeriesOps.seriesSql}),
           |base AS (SELECT metric, ts_ms, value FROM series
           |         WHERE mtype = 'purchase'),
           |${graft.ops.Rolling.holtSql}
           |ORDER BY metric, ts_ms""".stripMargin)
}
