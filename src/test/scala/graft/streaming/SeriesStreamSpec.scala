package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.sql.Timestamp

/** Streaming path driven through MemoryStream: windowed aggregation with
  * watermark finalization, and stateful gap detection across batches.
  */
class SeriesStreamSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ev(sec: Long, t: String = "purchase", u: Long = 1,
                 v: Double = 10.0) =
    SeriesStream.Ev(new Timestamp(sec * 1000), t, u, v)

  test("streaming window agg aggregates per series and window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[SeriesStream.Ev]
    val out = SeriesStream.windowAgg(in.toDF(), "1 minute", "30 seconds", "sum")
    val q = out.writeStream.format("memory").queryName("wagg")
      .outputMode("update").start()
    in.addData(ev(0, v = 1), ev(10, v = 2), ev(70, v = 5),
      ev(10, t = "error", v = 9))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT metric, ws, value, n_points FROM wagg ORDER BY metric, ws")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3)))
    q.stop()
    assert(rows.toSeq == Seq(
      ("error.1", 0L, 9.0, 1L),
      ("purchase.1", 0L, 3.0, 2L),
      ("purchase.1", 60000L, 5.0, 1L)))
  }

  test("streaming derivate: per-series deltas across batches, late drops") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[SeriesStream.Ev]
    val out = SeriesStream.derivate(spark, in.toDS())
    val q = out.writeStream.format("memory").queryName("deriv")
      .outputMode("append").start()
    in.addData(ev(1, v = 10), ev(2, v = 13), ev(4, v = 12))
    q.processAllAvailable()
    in.addData(ev(5, v = 20), ev(3, v = 99)) // 3s is behind the frontier
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT ts_ms, value FROM deriv ORDER BY ts_ms").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    q.stop()
    assert(rows.toSeq == Seq((2000L, 3.0), (4000L, -1.0), (5000L, 8.0)))
  }

  test("streaming zscore: cross-batch trailing state ≡ batch operator," +
    " late arrivals drop") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[SeriesStream.Ev]
    val out = SeriesStream.zscore(spark, in.toDS(), n = 3, threshold = 1.0)
    val q = out.toDF().writeStream.format("memory").queryName("zs")
      .outputMode("append").start()
    in.addData(ev(0, v = 10), ev(10, v = 10))
    q.processAllAvailable()
    // the spike arrives in a LATER batch (state must carry the tail);
    // 5 s is behind the frontier → dropped, cannot rewrite history
    in.addData(ev(20, v = 40), ev(5, v = 99))
    q.processAllAvailable()
    val got = spark.sql(
      "SELECT ts_ms, value, zscore, anomaly FROM zs ORDER BY ts_ms")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3)))
    q.stop()
    val batch = graft.ops.Rolling.zscore(
      Seq(("purchase.1", 0L, 10.0), ("purchase.1", 10000L, 10.0),
        ("purchase.1", 20000L, 40.0)).toDF("metric", "ts_ms", "value"),
      n = 3, threshold = 1.0).orderBy("ts_ms")
      .collect().map(r => (r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4)))
    assert(got.length == 3) // the late point emitted nothing
    // bit-exact parity with the batch decimal path, including NULL zs
    assert(got.map(t => (t._1, t._2, t._3.map(
      java.lang.Double.doubleToRawLongBits), t._4)).toSeq ==
      batch.map(t => (t._1, t._2, t._3.map(
        java.lang.Double.doubleToRawLongBits), t._4)).toSeq)
    assert(got.last._4) // the spike flags
  }

  test("streaming ewma: cross-batch trailing state ≡ batch smoother") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[SeriesStream.Ev]
    val out = SeriesStream.ewma(spark, in.toDS(), n = 3)
    val q = out.toDF().writeStream.format("memory").queryName("ew")
      .outputMode("append").start()
    in.addData(ev(0, v = 1.25), ev(10, v = 2.5))
    q.processAllAvailable()
    in.addData(ev(20, v = 10.0), ev(30, v = 0.3)) // tail carries across
    q.processAllAvailable()
    val got = spark.sql("SELECT ts_ms, ewma FROM ew ORDER BY ts_ms")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    q.stop()
    val batch = graft.ops.Rolling.ewma(
      Seq(("purchase.1", 0L, 1.25), ("purchase.1", 10000L, 2.5),
        ("purchase.1", 20000L, 10.0), ("purchase.1", 30000L, 0.3))
        .toDF("metric", "ts_ms", "value"), n = 3)
      .orderBy("ts_ms").collect()
      .map(r => (r.getLong(1), r.getDouble(3)))
    assert(got.map { case (t, v) =>
      (t, java.lang.Double.doubleToRawLongBits(v)) }.toSeq ==
      batch.map { case (t, v) =>
        (t, java.lang.Double.doubleToRawLongBits(v)) }.toSeq)
  }

  test("streaming holt: cross-batch exact-decimal carry ≡ batch fold") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[SeriesStream.Ev]
    val out = SeriesStream.holt(spark, in.toDS())
    val q = out.toDF().writeStream.format("memory").queryName("holt")
      .outputMode("append").start()
    // values chosen to force scale-10 halves in the recurrence — the
    // exact tie the double-space round resolved differently per engine
    in.addData(ev(0, v = 51.88), ev(10, v = 10.11))
    q.processAllAvailable()
    in.addData(ev(20, v = 99.99), ev(30, v = 0.01), ev(5, v = 7.0))
    q.processAllAvailable()
    val got = spark.sql("SELECT ts_ms, level, trend FROM holt ORDER BY ts_ms")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    q.stop()
    val batch = graft.ops.Rolling.holt(
      Seq(("purchase.1", 0L, 51.88), ("purchase.1", 10000L, 10.11),
        ("purchase.1", 20000L, 99.99), ("purchase.1", 30000L, 0.01))
        .toDF("metric", "ts_ms", "value"))
      .orderBy("ts_ms").collect()
      .map(r => (r.getLong(1), r.getDouble(3), r.getDouble(4)))
    assert(got.length == 4) // the late t=5 point dropped
    assert(got.map { case (t, l, b) =>
      (t, java.lang.Double.doubleToRawLongBits(l),
        java.lang.Double.doubleToRawLongBits(b)) }.toSeq ==
      batch.map { case (t, l, b) =>
        (t, java.lang.Double.doubleToRawLongBits(l),
          java.lang.Double.doubleToRawLongBits(b)) }.toSeq)
  }

  test("streaming cusum: cross-batch exact carry ≡ batch, survives " +
    "scores past the old unscaled-long range") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[SeriesStream.Ev]
    val out = SeriesStream.cusum(spark, in.toDS(), ref = 0.0,
      threshold = 1.5e9)
    val q = out.toDF().writeStream.format("memory").queryName("cus")
      .outputMode("append").start()
    // a drifting series: each point adds 1e9, so the running score
    // crosses 9.2e8 (the scale-10 unscaled-long ceiling the state used
    // to overflow at) inside the FIRST batch and keeps climbing across
    // the batch boundary — the exact-decimal string state must carry it
    in.addData(ev(0, v = 1e9 + 0.1), ev(10, v = 1e9 + 0.2))
    q.processAllAvailable()
    in.addData(ev(20, v = 1e9 + 0.3), ev(30, v = -0.5))
    q.processAllAvailable()
    val got = spark.sql("SELECT ts_ms, cusum, alarm FROM cus ORDER BY ts_ms")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    q.stop()
    val batch = graft.ops.Rolling.cusum(
      Seq(("purchase.1", 0L, 1e9 + 0.1), ("purchase.1", 10000L, 1e9 + 0.2),
        ("purchase.1", 20000L, 1e9 + 0.3), ("purchase.1", 30000L, -0.5))
        .toDF("metric", "ts_ms", "value"), ref = 0.0, threshold = 1.5e9)
      .orderBy("ts_ms").collect()
      .map(r => (r.getLong(1), r.getDouble(3), r.getBoolean(4)))
    assert(got.map { case (t, v, a) =>
      (t, java.lang.Double.doubleToRawLongBits(v), a) }.toSeq ==
      batch.map { case (t, v, a) =>
        (t, java.lang.Double.doubleToRawLongBits(v), a) }.toSeq)
    assert(got.count(_._3) == 3) // points 2–4 are past 1.5e9
  }

  test("gap detection emits missing-slot ranges across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[SeriesStream.Ev]
    val out = SeriesStream.detectGaps(spark, in.toDS(), resolutionMs = 1000L)
    val q = out.writeStream.format("memory").queryName("gaps")
      .outputMode("append").start()
    in.addData(ev(0), ev(1), ev(5))   // gap [2s, 5s): slots 2,3,4 missing
    q.processAllAvailable()
    in.addData(ev(6), ev(10))         // state carries 6 → gap [7s, 10s)
    q.processAllAvailable()
    in.addData(ev(3), ev(10))         // late/duplicate slots ≤ frontier:
    q.processAllAvailable()           // dropped — no regressed state, no
                                      // re-emitted or negative-delta gaps
    val rows = spark.sql(
      "SELECT metric, gapStartMs, gapEndMs, missedSlots FROM gaps " +
        "ORDER BY gapStartMs").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    q.stop()
    assert(rows.toSeq == Seq(
      ("purchase.1", 2000L, 5000L, 3L),
      ("purchase.1", 7000L, 10000L, 3L)))
  }
}
