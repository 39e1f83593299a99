package graft.dql

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** End-to-end DQL → DataFrame compilation against the sf0.001 testdata:
  * generated well-typed queries must all compile and analyze (the
  * reference's prop_dflow_prepare), and a few anchor queries must return
  * rows with the contracted shape.
  */
class CompileSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"
  private val nowMs = 1706745600000L

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def run(dql: String) =
    Compiler.run(spark, new TestdataStore(dir), nowMs, dql)

  test("generated well-typed queries compile and analyze") {
    var checked = 0
    var i = 0
    while (checked < 40 && i < 200) {
      val params = Gen.Parameters.default.withSize(1 + i % 30)
      DqlGen.query(params, Seed(i.toLong)).foreach { q =>
        // swap generated buckets/paths for real ones? not needed: empty
        // scans still must ANALYZE (schema check), which is the property.
        val df = new Compiler(spark, new TestdataStore(dir), nowMs).compile(q)
        assert(df.schema.fieldNames.contains("value"))
        checked += 1
      }
      i += 1
    }
    assert(checked >= 30)
  }

  test("anchor query returns named hourly means") {
    val df = run("SELECT avg('purchase'.'3' BUCKET 'testdata', 1 h) LAST 31 d")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(df.columns.toSeq == Seq("name", "metric", "ts_ms", "value"))
    assert(rows.forall(_.getString(0) ==
      "avg('purchase'.'3' BUCKET 'testdata', 1 h)"))
  }

  test("TOP limits to n series") {
    val df = run("SELECT avg('purchase'.* BUCKET 'testdata', 1 d) " +
      "LAST 31 d TOP 2 BY avg()")
    val metrics = df.select("metric").distinct().collect().map(_.getString(0))
    assert(metrics.length == 2)
  }

  test("confidence channel densifies lazily") {
    val sparse = run("SELECT avg('purchase'.'3' BUCKET 'testdata', 1 h) " +
      "BETWEEN 1704412800000 AND 1704499200000")
    val dense = run("SELECT count_above_conf('purchase'.'3' BUCKET " +
      "'testdata', 0.5, 1 h) BETWEEN 1704412800000 AND 1704499200000")
    // sparse: only hours with data; dense: all 24 hours of the day
    assert(sparse.count() < 24)
    assert(dense.count() == 24)
  }

  test("events queries filter and bound by the timeframe") {
    val df = run("SELECT EVENTS FROM 'testdata' WHERE 'k' > 90 LAST 31 d")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(df.columns.toSeq ==
      Seq("event_id", "ts_ms", "event_type", "value"))
  }

  test("multi-range scan unions pruned per-range reads (dqe_get range lists)") {
    val store = new TestdataStore(dir)
    val r1 = (1704412800000L, 1704499200000L) // Jan 05
    val r2 = (1704672000000L, 1704758400000L) // Jan 08
    val multi = store.scanRanges(spark, "testdata", Seq(r1, r2)).count()
    val a = store.scanRange(spark, "testdata", r1._1, r1._2).count()
    val b = store.scanRange(spark, "testdata", r2._1, r2._2).count()
    assert(a > 0 && b > 0 && multi == a + b)
  }

  test("spark.graft.dql.histogram.hdr routes quantiles through the HDR sketch") {
    val dql = "SELECT percentile(histogram('purchase'.'3' BUCKET 'testdata'," +
      " 1000, 1, 1 h), 0.9) BETWEEN 1704067200000 AND 1706745600000"
    val exact = run(dql).select("value").collect().map(_.getDouble(0))
    spark.conf.set("spark.graft.dql.histogram.hdr", "true")
    try {
      val hdr = run(dql).select("value").collect().map(_.getDouble(0))
      assert(exact.length == hdr.length && exact.nonEmpty)
      val layout = new graft.expr.HdrHistogram.Layout(1)
      exact.zip(hdr).foreach { case (e, h) =>
        // HDR convention: the exact order statistic's bucket, reported at
        // its highest equivalent value — and within the 10^-sf bound
        assert(h == layout.highestEquivalent(layout.indexOf(e.toLong)).toDouble)
        assert(h >= e && (h - e) <= math.max(1.0, e * math.pow(10, -1) * 2))
      }
      assert(exact.zip(hdr).exists { case (e, h) => e != h }) // bucket error visible
    } finally spark.conf.unset("spark.graft.dql.histogram.hdr")
  }

  test("dense spine anchors to the resolution grid even for a raw " +
    "(unaligned) nowMs — real points are never orphaned (r17 review)") {
    // same conf read as the lazy-densification test, but through a
    // BETWEEN whose endpoints sit 123 ms off the 1 s grid — the shape
    // Graft.query's default nowMs = currentTimeMillis produces. Stored
    // points are grid-floored, so a spine anchored at the raw start
    // would miss every one of them (count_above of an all-empty spine
    // = 0 everywhere); the aligned spine must reproduce the aligned
    // query's values on the shared interior hours.
    val aligned = run("SELECT count_above_conf('purchase'.'3' BUCKET " +
      "'testdata', 0.5, 1 h) BETWEEN 1704067200000 AND 1706745600000")
      .collect().map(r => r.getLong(2) ->
        r.getAs[Number](3).doubleValue).toMap
    val raw = run("SELECT count_above_conf('purchase'.'3' BUCKET " +
      "'testdata', 0.5, 1 h) BETWEEN 1704067200123 AND 1706745600123")
      .collect().map(r => r.getLong(2) ->
        r.getAs[Number](3).doubleValue).toMap
    assert(raw.nonEmpty)
    assert(aligned.values.sum > 0.0, "month has no points — vacuous")
    // interior hours (fully inside both ranges) agree exactly
    val interior = aligned.keySet.intersect(raw.keySet)
      .filter(t => t > 1704067200000L && t < 1706742000000L)
    assert(interior.nonEmpty)
    interior.foreach(t => assert(raw(t) == aligned(t), s"hour $t"))
    assert(raw.values.sum > 0.0, "unaligned spine orphaned every point")
  }

  test("typed rejects: EVENTS decorations, TOP registry, percentile " +
    "range, pipeline argument domains (r17 review symmetry)") {
    def rejects(dql: String, frag: String): Unit = {
      val e = intercept[RuntimeException](run(dql))
      assert(e.getMessage != null && e.getMessage.contains(frag),
        s"$dql → ${e.getMessage}")
    }
    rejects("SELECT EVENTS FROM 'testdata' WHERE 'k' > 90 SHIFT BY 1 h LAST 1 d",
      "EVENTS")
    rejects("SELECT EVENTS FROM 'testdata' LAST 1 d TOP 5 BY avg()",
      "event streams")
    rejects("SELECT avg('purchase'.* BUCKET 'testdata', 1 d) LAST 31 d " +
      "TOP 2 BY bogus()", "constant-free aggregate")
    rejects("SELECT percentile('purchase'.'3' BUCKET 'testdata', 90, 1 h) " +
      "LAST 1 d", "halving")
    rejects("SELECT percentile(histogram('purchase'.'3' BUCKET 'testdata', " +
      "1000, 3, 1 h), 1.5) LAST 1 d", "fraction")
    // the previously-unvalidated sibling spellings now guard their
    // documented domains exactly like the validated ones
    rejects("SELECT dedup_ngram(0) LAST 1 d", "dedup_ngram")
    rejects("SELECT sim_rrf(5, 0) LAST 1 d", "sim_rrf")
    rejects("SELECT sim_topk_probe(0, 5, 1) LAST 1 d", "sim_topk_probe")
    rejects("SELECT sim_topk_sq8(5, 5, 0) LAST 1 d", "sim_topk_sq8")
    rejects("SELECT sim_topk_pq(5, 0, 1) LAST 1 d", "sim_topk_pq")
    rejects("SELECT sim_range_lsh(5, 7) LAST 1 d", "sim_range_lsh")
    rejects("SELECT dedup_simhash(0.5) LAST 1 d", "dedup_simhash")
    rejects("SELECT quality_trained(8, 2, 0.05, 10, 2) LAST 1 d",
      "quality_trained")
  }

  test("non-commutative combinators reject a multi-series child loudly " +
    "instead of collapsing it to max-of-series (r17 review)") {
    val df = run("SELECT diff(avg('purchase'.* BUCKET 'testdata', 1 d), " +
      "avg('error'.'3' BUCKET 'testdata', 1 d)) LAST 31 d")
    val e = intercept[Exception](df.collect())
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") +
        messages(t.getCause)
    assert(messages(e).contains("ONE series per child"),
      messages(e).take(300))
    // single-series children still fold fine
    val ok = run("SELECT diff(avg('purchase'.'3' BUCKET 'testdata', 1 d), " +
      "avg('error'.'3' BUCKET 'testdata', 1 d)) LAST 31 d")
    assert(ok.collect().nonEmpty)
  }

  test("queryStrict raises no_results on a dead series (dqe_funnel parity)") {
    val store = new TestdataStore(dir)
    // a path that matches nothing → empty result → explicit error
    intercept[graft.Graft.NoResultsException] {
      graft.Graft.queryStrict(spark, store,
        "SELECT avg('nosuch'.'999' BUCKET 'testdata', 1 h) LAST 1 d", nowMs)
    }
    // a live series passes through untouched
    val df = graft.Graft.queryStrict(spark, store,
      "SELECT avg('purchase'.'3' BUCKET 'testdata', 1 h) LAST 31 d", nowMs)
    assert(df.count() > 0)
  }

  test("GROUP BY USING diff/product/quotient over two single-series " +
    "members equals the combinator spelling, zero divisor included") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, concat_ws}
    // two complete series a.1 and a.2 on a 1 s grid; a.2 is zero at
    // every third point, where quotient divides by one instead
    val rows = (0 until 12).flatMap { i =>
      Seq(("a", "1", i * 1000L, 1.5 + i), ("a", "2", i * 1000L,
        if (i % 3 == 0) 0.0 else 0.25 * i))
    }
    val frame = rows.toDF("mtype", "muser", "ts_ms", "value")
      .select(concat_ws(".", col("mtype"), col("muser")).as("metric"),
        col("mtype"), col("muser"), col("ts_ms"), col("value"))
    val store = new SeriesStore {
      def corpusKey: String = "compile-spec-pair"
      def resolutionMs(bucket: String): Long = 1000L
      def series(sp: SparkSession, bucket: String) = frame
      def tagCol(ns: String, key: String): Option[String] = key match {
        case "type" => Some("mtype")
        case "user" => Some("muser")
        case _      => None
      }
      val tagCols: Seq[String] = Seq("mtype", "muser")
      def events(sp: SparkSession, bucket: String) =
        throw new UnsupportedOperationException("no events")
    }
    def points(dql: String): Set[(Long, Double)] =
      Compiler.run(spark, store, 12000L, dql)
        .select("ts_ms", "value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
    for (f <- Seq("diff", "product", "quotient")) {
      val grouped = points(s"SELECT 'a' FROM 'x' GROUP BY $$'graft':'type' " +
        s"USING $f BETWEEN 0 AND 12000")
      val comb = points(s"SELECT $f('a'.'1' BUCKET 'x', 'a'.'2' BUCKET 'x') " +
        "BETWEEN 0 AND 12000")
      assert(grouped.size == 12, f)
      assert(grouped == comb, f)
    }
    assert(points("SELECT quotient('a'.'1' BUCKET 'x', 'a'.'2' BUCKET 'x') " +
      "BETWEEN 0 AND 3000") == Set((0L, 1.5), (1000L, 2.5 / 0.25),
        (2000L, 3.5 / 0.5)))
  }
}
