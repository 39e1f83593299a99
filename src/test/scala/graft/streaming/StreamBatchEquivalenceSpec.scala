package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.sql.Timestamp

/** Batch-vs-stream equivalence: the SAME DQL text through
  * [[StreamingDql]] over a replayed event stream and through the batch
  * compiler ([[graft.dql.Compiler]]) over an in-memory [[graft.dql.SeriesStore]]
  * holding the same events must produce identical window results.
  *
  * This is the oracle-style check for the streaming surface (the batch
  * side IS gate-verified against DuckDB, so agreement transfers). The
  * reference's own execution model is chunked incremental evaluation with
  * carried state (`src/dqe_get.erl:25-36`, `src/dqe_hist.erl:33-51`) —
  * the streaming path mirrors that shape; this spec pins its results to
  * the one-shot batch semantics.
  *
  * Exactness: the replay is MULTI-EVENT — some (series, second) slots
  * carry 2–3 events — and values have two decimal digits. The batch leaf
  * collapses each slot to its decimal-exact mean (`Exact.davg`) before
  * any aggregation; the stream mirrors that with its chained slot-collapse
  * stage (default `slotExact=true`), so both sides aggregate the
  * identical slot values with the identical aggregate expressions and the
  * comparison is EXACT double equality, no tolerance. The chained plan
  * emits on window close, so the collapse shapes run in APPEND mode with
  * watermark sentinels flushing the tail; the single-stage `*_conf`
  * shapes (presence is collapse-invariant) stay in update mode. A guard
  * test below asserts the collapse is LOAD-BEARING: with
  * `slotExact=false` the same replay diverges from batch.
  */
class StreamBatchEquivalenceSpec extends AnyFunSuite with BeforeAndAfterAll {
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

  // ------------------------------------------------------------- fixture

  private val EndMs = 600000L // 10 minutes of replay, [0, 600000)

  /** deterministic sparse replay: 3 series, ~75% of seconds occupied (so
    * windows contain gaps), 2-decimal-digit values — and every 5th
    * occupied second carries a second event, every 20th a third, so the
    * slot derivation (one davg value per (series, second)) is a REAL
    * collapse, not the identity: raw-event window aggregates diverge from
    * the batch series model on this fixture (see the slotExact=false
    * guard test).
    */
  private lazy val replay: Seq[SeriesStream.Ev] = for {
    (t, u) <- Seq(("purchase", 1L), ("purchase", 2L), ("error", 1L))
    sec <- 0L until (EndMs / 1000)
    if (sec * 2654435761L + u * 40503L + t.length * 97L) % 4 != 0
    dup <- 0 to (if (sec % 20 == 3) 2 else if (sec % 5 == 0) 1 else 0)
  } yield SeriesStream.Ev(new Timestamp(sec * 1000), t, u,
    ((sec * 31 + u * 7 + t.length + dup * 13) % 1000) / 100.0)

  /** the batch compiler's storage seam bound to the replayed events —
    * the same derivation as SeriesOps.buildSeries, over the same rows the
    * stream ingests
    */
  private final class ReplayStore(ev: DataFrame) extends graft.dql.SeriesStore {
    // test-local in-memory replay — no corpus tables, no memo artifacts
    def corpusKey: String = s"replay-${System.identityHashCode(ev)}"
    def resolutionMs(bucket: String): Long = 1000L
    def series(spark: SparkSession, bucket: String): DataFrame =
      ev.groupBy(
          col("event_type").as("mtype"), col("user_id").as("muser"),
          graft.core.Exact.wstart(unix_millis(col("ts")), 1000L).as("ts_ms"))
        .agg(graft.core.Exact.davg(col("value")).as("value"))
        .select(concat_ws(".", col("mtype"), col("muser")).as("metric"),
          col("mtype"), col("muser"), col("ts_ms"), col("value"))
    def tagCol(ns: String, key: String): Option[String] = key match {
      case "type" => Some("mtype")
      case "user" => Some("muser")
      case _      => None
    }
    val tagCols: Seq[String] = Seq("mtype", "muser")
    def events(spark: SparkSession, bucket: String): DataFrame =
      ev.select(monotonically_increasing_id().as("event_id"),
        unix_millis(col("ts")).as("ts_ms"), col("event_type"), col("value"))
  }

  // ------------------------------------------------------------ both paths

  private def batchRows(dql: String): Set[(String, Long, Option[Double])] = {
    val s = spark
    import s.implicits._
    val store = new ReplayStore(replay.toDF())
    graft.dql.Compiler.run(spark, store, EndMs, dql)
      .select(col("metric"), col("ts_ms"), col("value").cast("double"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSet
  }

  private def streamRows(dql: String, name: String,
                         append: Boolean = false,
                         slotExact: Boolean = true,
                         chunks: Int = 1): Set[(String, Long, Option[Double])] = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    if (!slotExact)
      spark.conf.set("spark.graft.streaming.slotExact", "false")
    val in = MemoryStream[SeriesStream.Ev]
    // chunked replays drive MULTIPLE micro-batches (state carried across
    // batch boundaries, windows closing incrementally as the watermark
    // advances chunk by chunk). The feed must then be TIME-ordered — the
    // raw fixture is series-major, and a later chunk's whole series would
    // arrive behind the watermark and be dropped as late (correct stream
    // semantics, but not the batch row set). A 1 s delay (not 0) keeps
    // boundary events sharing the watermark timestamp unambiguously live.
    val out =
      try StreamingDql.compile(in.toDF(), dql,
        if (chunks > 1) "1 second"
        else if (append) "0 seconds" else "30 seconds")
      finally spark.conf.unset("spark.graft.streaming.slotExact")
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(if (append) "append" else "update").start()
    try {
      if (chunks > 1) {
        val sorted = replay.sortBy(_.ts.getTime)
        sorted.grouped(math.max(1, (sorted.size + chunks - 1) / chunks))
          .foreach { chunk =>
            in.addData(chunk: _*)
            q.processAllAvailable()
          }
      } else in.addData(replay: _*)
      if (append)
        // sentinels past the replay range: advance the event-time watermark
        // so every in-range window CLOSES (append emits closed windows
        // only). One per replay series — a sentinel must MATCH the query's
        // selector to count: Catalyst pushes the metric filter below the
        // EventTimeWatermark node, so only selected rows advance the
        // watermark (an idle series never flushes: standard Spark
        // semantics). Their own windows start at EndMs + 60s and never
        // close; the comparison is bounded to ws < EndMs anyway.
        in.addData(
          SeriesStream.Ev(new Timestamp(EndMs + 60000), "purchase", 1L, 0.0),
          SeriesStream.Ev(new Timestamp(EndMs + 60000), "purchase", 2L, 0.0),
          SeriesStream.Ev(new Timestamp(EndMs + 60000), "error", 1L, 0.0))
      q.processAllAvailable()
      spark.sql(s"SELECT metric, ws, CAST(value AS DOUBLE) AS v FROM $name")
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .toSet
    } finally q.stop()
  }

  /** Assert stream ≡ batch on the windows the stream emits. The batch
    * side may additionally report windows no event fell into (its leaf
    * densifies when the plan needs the confidence channel); a stream has
    * no row to trigger those, so they are excluded — every window WITH
    * data must match exactly, and the stream must emit no window the
    * batch side doesn't have.
    */
  private def assertEquivalent(dql: String, name: String,
                               append: Boolean = false,
                               chunks: Int = 1,
                               maxWs: Long = EndMs): Unit = {
    val b = batchRows(dql).filter(_._2 < maxWs)
    // the stream has no timeframe clause, so compare only the batch
    // query's range (the append sentinel sits past it by construction)
    val st = streamRows(dql, name, append, chunks = chunks)
      .filter(_._2 < maxWs)
    assert(st.nonEmpty, s"stream produced nothing for: $dql")
    val bKeys = b.map(r => (r._1, r._2))
    val missing = st.filterNot(r => bKeys.contains((r._1, r._2)))
    assert(missing.isEmpty,
      s"stream emitted windows batch doesn't have: ${missing.take(5)}")
    val bByKey = b.map(r => (r._1, r._2) -> r._3).toMap
    val mismatched = st.filter(r => bByKey((r._1, r._2)) != r._3)
    assert(mismatched.isEmpty,
      s"value mismatch (stream vs batch=${mismatched.take(5).map(r => (r, bByKey((r._1, r._2))))}")
    // and no with-data batch window is absent from the stream: batch rows
    // with a non-null value always correspond to ≥1 event in the window
    val stKeys = st.map(r => (r._1, r._2))
    val lost = b.filter(_._3.nonEmpty).filterNot(r => stKeys.contains((r._1, r._2)))
    assert(lost.isEmpty, s"batch windows missing from stream: ${lost.take(5)}")
  }

  // -------------------------------------------------------------- shapes

  test("windowed avg over a glob selector: stream ≡ batch") {
    assertEquivalent(
      s"SELECT avg('purchase'.* BUCKET 'testdata', 1 m) BETWEEN 0 AND $EndMs",
      "eq_avg_glob", append = true)
  }

  test("windowed avg over a glob LOOKUP: `*` is a wildcard segment in " +
    "both engines") {
    assertEquivalent(
      s"SELECT avg('purchase'.* FROM 'testdata', 1 m) BETWEEN 0 AND $EndMs",
      "eq_avg_glob_lookup", append = true)
  }

  test("RAW select (no aggregation): slot rows stream ≡ batch leaf") {
    assertEquivalent(
      s"SELECT 'purchase'.'1' BUCKET 'testdata' BETWEEN 0 AND $EndMs",
      "eq_raw_scan", append = true)
  }

  test("RAW glob select: every matched series' slot rows stream ≡ batch") {
    assertEquivalent(
      s"SELECT 'purchase'.* BUCKET 'testdata' BETWEEN 0 AND $EndMs",
      "eq_raw_glob", append = true)
  }

  test("pointwise transform over a RAW select: stream ≡ batch") {
    assertEquivalent(
      s"SELECT add(mul('purchase'.'2' BUCKET 'testdata', 3), 7) " +
        s"BETWEEN 0 AND $EndMs",
      "eq_raw_trans", append = true)
  }

  test("RAW lookup with tag WHERE: stream ≡ batch") {
    assertEquivalent(
      s"SELECT 'purchase' FROM 'testdata' WHERE 'graft':'user' = '1' " +
        s"BETWEEN 0 AND $EndMs",
      "eq_raw_lookup", append = true)
  }

  test("combinator over RAW selects (pointwise diff of two live " +
    "series): stream ≡ batch") {
    assertEquivalent(
      s"SELECT diff('purchase'.'1' BUCKET 'testdata', " +
        s"'purchase'.'2' BUCKET 'testdata') BETWEEN 0 AND $EndMs",
      "eq_raw_diff", append = true)
  }

  test("commutative combinator over RAW globs (pooled sum incl. " +
    "overlapping children): stream ≡ batch") {
    assertEquivalent(
      s"SELECT sum('purchase'.* BUCKET 'testdata', " +
        s"'purchase'.'1' BUCKET 'testdata') BETWEEN 0 AND $EndMs",
      "eq_raw_sum_overlap", append = true)
  }

  test("quotient over RAW selects (div-by-zero -> div-by-one fold): " +
    "stream ≡ batch") {
    assertEquivalent(
      s"SELECT quotient('purchase'.'1' BUCKET 'testdata', " +
        s"'error'.'1' BUCKET 'testdata') BETWEEN 0 AND $EndMs",
      "eq_raw_quot", append = true)
  }

  test("SHIFT BY on an aggregation (non-window-multiple shift pins the " +
    "grid semantics): stream ≡ batch") {
    // 90 s shift over a 1 m window: the re-stamp must keep the ORIGINAL
    // window grid (ws = k·60000 + 90000), not re-bucket shifted events.
    // The batch fetch range [−90 s, EndMs−90 s) truncates its FINAL
    // window mid-window (a timeframe edge the unbounded stream doesn't
    // have), so the comparison stops one window short of it.
    assertEquivalent(
      s"SELECT avg('purchase'.* BUCKET 'testdata', 1 m) SHIFT BY 90 s " +
        s"BETWEEN 0 AND $EndMs",
      "eq_shift_avg", append = true, maxWs = EndMs - 120000)
  }

  test("SHIFT BY on a RAW select: stream ≡ batch") {
    assertEquivalent(
      s"SELECT 'purchase'.* BUCKET 'testdata' SHIFT BY 30 s " +
        s"BETWEEN 0 AND $EndMs",
      "eq_shift_raw", append = true)
  }

  test("all-RAW multi-selector funnel (tag-explode, no stateful union): " +
    "stream ≡ batch incl. the name channel") {
    // two raw selectors with overlapping series sets — each slot row must
    // emit once per matching selector, distinguished by the NAME channel
    // (the value rows coincide where the series overlap, so the name is
    // what proves per-selector emission)
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dql = s"SELECT 'purchase'.* BUCKET 'testdata' AS 'all'.$$1, " +
      s"'purchase'.'1' BUCKET 'testdata' BETWEEN 0 AND $EndMs"
    val store = new ReplayStore(replay.toDF())
    val b = graft.dql.Compiler.run(spark, store, EndMs, dql)
      .select(col("name"), col("metric"), col("ts_ms"),
        col("value").cast("double"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toSet
    val in = MemoryStream[SeriesStream.Ev]
    val out = StreamingDql.compile(in.toDF(), dql, "0 seconds")
    val q = out.writeStream.format("memory").queryName("eq_raw_funnel")
      .outputMode("append").start()
    val st = try {
      in.addData(replay: _*)
      in.addData(
        SeriesStream.Ev(new Timestamp(EndMs + 60000), "purchase", 1L, 0.0),
        SeriesStream.Ev(new Timestamp(EndMs + 60000), "purchase", 2L, 0.0))
      q.processAllAvailable()
      spark.sql("SELECT name, metric, ws, CAST(value AS DOUBLE) AS v " +
        "FROM eq_raw_funnel")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .toSet.filter(_._3 < EndMs)
    } finally q.stop()
    assert(st.nonEmpty)
    assert(st == b, {
      s"stream-only=${(st -- b).take(5)} batch-only=${(b -- st).take(5)}"
    })
  }

  test("raw funnel with per-selector SHIFT BY: stream ≡ batch") {
    // disjoint metrics — the (metric, ws) comparator cannot tell two
    // selectors' rows apart when their series overlap (the name-channel
    // test above covers that case); here the point is the PER-SELECTOR
    // re-stamp: purchase shifted +30 s, error unshifted
    assertEquivalent(
      s"SELECT 'purchase'.* BUCKET 'testdata' SHIFT BY 30 s, " +
        s"'error'.* BUCKET 'testdata' BETWEEN 0 AND $EndMs",
      "eq_raw_funnel_shift", append = true)
  }

  test("transform below the aggregation (divide, then sum): stream ≡ batch") {
    assertEquivalent(
      s"SELECT sum(divide('purchase'.'1' BUCKET 'testdata', 2), 30 s) BETWEEN 0 AND $EndMs",
      "eq_sum_divide", append = true)
  }

  test("transform above the aggregation (add on the agg stream): stream ≡ batch") {
    assertEquivalent(
      s"SELECT add(max('error'.'1' BUCKET 'testdata', 1 m), 100) BETWEEN 0 AND $EndMs",
      "eq_add_max", append = true)
  }

  test("fused same-window combinator (diff of sums): stream ≡ batch") {
    assertEquivalent(
      s"SELECT diff(sum('purchase'.'1' BUCKET 'testdata', 1 m), " +
        s"sum('purchase'.'2' BUCKET 'testdata', 1 m)) BETWEEN 0 AND $EndMs",
      "eq_diff_sums", append = true)
  }

  test("fused non-commutative combinator (quotient): stream ≡ batch") {
    assertEquivalent(
      s"SELECT quotient(sum('purchase'.'1' BUCKET 'testdata', 1 m), " +
        s"sum('error'.'1' BUCKET 'testdata', 1 m)) BETWEEN 0 AND $EndMs",
      "eq_quot_sums", append = true)
  }

  test("fused aggregation funnel with per-selector SHIFT BY: " +
    "stream ≡ batch") {
    assertEquivalent(
      s"SELECT sum('purchase'.* BUCKET 'testdata', 1 m) SHIFT BY 90 s, " +
        s"avg('purchase'.* BUCKET 'testdata', 1 m) " +
        s"BETWEEN 0 AND $EndMs",
      "eq_fused_shift", append = true, maxWs = EndMs - 90000)
  }

  test("NESTED aggregation (resolution-coarsening chain, " +
    "window-over-window): stream ≡ batch") {
    assertEquivalent(
      s"SELECT sum(avg('purchase'.* BUCKET 'testdata', 1 m), 5 m) " +
        s"BETWEEN 0 AND $EndMs",
      "eq_nested_agg", append = true)
  }

  test("threshold aggregation over a nested mean: stream ≡ batch") {
    assertEquivalent(
      s"SELECT count_above(avg('purchase'.* BUCKET 'testdata', 1 m), " +
        s"0.5, 5 m) BETWEEN 0 AND $EndMs",
      "eq_nested_thresh", append = true)
  }

  test("aggregation OVER a GROUP BY lookup: stream ≡ batch") {
    assertEquivalent(
      "SELECT max('purchase' FROM 'testdata' GROUP BY $'graft':'user' " +
        s"USING sum, 5 m) BETWEEN 0 AND $EndMs",
      "eq_agg_over_group", append = true)
  }

  test("tag WHERE filter under the aggregation: stream ≡ batch") {
    // on the stream the tags ARE event columns, so the WHERE needs no tag
    // index — it must select exactly the series the batch index answers
    assertEquivalent(
      s"SELECT avg('purchase' FROM 'testdata' WHERE 'graft':'user' = '1', 1 m) " +
        s"BETWEEN 0 AND $EndMs",
      "eq_where_avg", append = true)
  }

  test("top-level GROUP BY tag USING sum: stream ≡ batch") {
    assertEquivalent(
      s"SELECT 'purchase' FROM 'testdata' GROUP BY $$'graft':'user' USING sum " +
        s"BETWEEN 0 AND $EndMs",
      "eq_group_sum", append = true)
  }

  test("GROUP BY tag USING avg (decimal-exact mean): stream ≡ batch") {
    // avg divides the decimal-exact sum by the PRESENT member count per
    // slot — the stream's divisor is its window event count, which must
    // coincide under the one-point-per-(series, slot) replay model
    assertEquivalent(
      s"SELECT 'purchase' FROM 'testdata' GROUP BY $$'graft':'type' USING avg " +
        s"BETWEEN 0 AND $EndMs",
      "eq_group_avg", append = true)
  }

  test("GROUP BY with WHERE and non-commutative USING diff: stream ≡ batch") {
    // diff folds the group's member values in lexicographic metric order —
    // the stream must reproduce the batch's pinned fold order exactly
    assertEquivalent(
      s"SELECT 'purchase' FROM 'testdata' WHERE 'graft':'user' = '1' OR " +
        s"'graft':'user' = '2' GROUP BY $$'graft':'type' USING diff " +
        s"BETWEEN 0 AND $EndMs",
      "eq_group_diff", append = true)
  }

  test("count_above_conf: synthesized presence channel ≡ dense spine") {
    // the stream never gap-fills; its per-window {0,1} confidence array
    // must agree with the batch's densified confidence channel
    assertEquivalent(
      s"SELECT count_above_conf('purchase'.'1' BUCKET 'testdata', 0.5, 1 m) " +
        s"BETWEEN 0 AND $EndMs",
      "eq_conf_count")
  }

  test("last_above_conf (last present slot's confidence): stream ≡ batch") {
    assertEquivalent(
      s"SELECT last_above_conf('purchase'.'1' BUCKET 'testdata', 0.5, 1 m) " +
        s"BETWEEN 0 AND $EndMs",
      "eq_conf_last_above")
  }

  test("first_below_conf (first gap slot in time order): stream ≡ batch") {
    assertEquivalent(
      s"SELECT first_below_conf('purchase'.'1' BUCKET 'testdata', 0.5, 1 m) " +
        s"BETWEEN 0 AND $EndMs",
      "eq_conf_first_below")
  }

  test("stateful derivate above the aggregation: stream ≡ batch") {
    // v'(w) = v(w) − v(prev present w), head point backfilled with the
    // second difference — keyed state over CLOSED windows, so this runs
    // append-mode with a watermark sentinel flushing the tail
    assertEquivalent(
      s"SELECT derivate(avg('purchase'.'1' BUCKET 'testdata', 1 m)) " +
        s"BETWEEN 0 AND $EndMs",
      "eq_derivate", append = true)
  }

  test("histogram percentile with out-of-range drop: stream ≡ batch") {
    // htv=5 bites: replay values round to 0..10, so both sides must DROP
    // the same rows before the discrete kth — divergent drop semantics
    // would produce different quantiles, not just different row counts
    assertEquivalent(
      s"SELECT percentile(histogram('purchase'.'1' BUCKET 'testdata', 5, 3, 1 m), 0.9) " +
        s"BETWEEN 0 AND $EndMs",
      "eq_hist_p90", append = true)
  }

  test("histogram percentile under the HDR flag: sketch streams, stream ≡ batch") {
    // spark.graft.dql.histogram.hdr=true must mean the SAME algorithm on
    // both engines (the r7 seam: the stream silently ran the exact
    // reduction while batch ran the sketch). The sketch Aggregator's
    // partial buffer is the streaming aggregation state, merged across
    // micro-batches like any partial aggregate; quantiles come out at the
    // bucket's highest equivalent value, identical on both sides.
    spark.conf.set("spark.graft.dql.histogram.hdr", "true")
    try {
      assertEquivalent(
        s"SELECT percentile(histogram('purchase'.'1' BUCKET 'testdata', 10, 2, 1 m), 0.9) " +
          s"BETWEEN 0 AND $EndMs",
        "eq_hist_hdr_p90", append = true)
      // and across micro-batch boundaries (sketch buffers live in the
      // state store between triggers)
      assertEquivalent(
        s"SELECT median(histogram('purchase'.'1' BUCKET 'testdata', 10, 2, 1 m)) " +
          s"BETWEEN 0 AND $EndMs",
        "eq_hist_hdr_med", append = true, chunks = 6)
    } finally spark.conf.unset("spark.graft.dql.histogram.hdr")
  }

  test("multi-batch replay: windowed avg ≡ batch with state carried across micro-batches") {
    // the single-batch shapes above prove the SEMANTICS; these prove the
    // STATE MACHINE — the same replay split over 6 time-ordered
    // micro-batches, so windows straddle batch boundaries, partial
    // aggregates live in the state store between triggers, and the
    // watermark advances incrementally (closing early windows while later
    // ones are still filling)
    assertEquivalent(
      s"SELECT avg('purchase'.* BUCKET 'testdata', 1 m) BETWEEN 0 AND $EndMs",
      "eq_mb_avg", append = true, chunks = 6)
  }

  test("multi-batch replay: GROUP BY USING sum ≡ batch across micro-batches") {
    assertEquivalent(
      s"SELECT 'purchase' FROM 'testdata' GROUP BY $$'graft':'user' USING sum " +
        s"BETWEEN 0 AND $EndMs",
      "eq_mb_group", append = true, chunks = 6)
  }

  test("multi-batch replay: derivate's keyed state diffs across micro-batches") {
    // the FMGWS chain must produce identical diffs whether a metric's
    // consecutive windows close in one trigger or several — the head
    // backfill especially (held in state until its successor closes,
    // possibly batches later)
    assertEquivalent(
      s"SELECT derivate(avg('purchase'.'1' BUCKET 'testdata', 1 m)) " +
        s"BETWEEN 0 AND $EndMs",
      "eq_mb_derivate", append = true, chunks = 6)
  }

  test("multi-selector funnel with AS naming: stream ≡ batch incl. the name channel") {
    // the fused funnel (per-selector filtered aggregates + unpivot) must
    // reproduce the batch union's EXACT row set — per-selector rows under
    // the batch naming contract: an AS pvar name on the first selector,
    // the default unparsed-selector name on the second
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dql = s"SELECT avg('purchase'.* BUCKET 'testdata', 1 m) AS 'a'.$$2, " +
      s"max('purchase'.* BUCKET 'testdata', 1 m) BETWEEN 0 AND $EndMs"
    val store = new ReplayStore(replay.toDF())
    val b = graft.dql.Compiler.run(spark, store, EndMs, dql)
      .select(col("name"), col("metric"), col("ts_ms"),
        col("value").cast("double"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toSet
    val in = MemoryStream[SeriesStream.Ev]
    val out = StreamingDql.compile(in.toDF(), dql, "0 seconds")
    val q = out.writeStream.format("memory").queryName("eq_multi")
      .outputMode("append").start()
    val st = try {
      in.addData(replay: _*)
      in.addData(
        SeriesStream.Ev(new Timestamp(EndMs + 60000), "purchase", 1L, 0.0),
        SeriesStream.Ev(new Timestamp(EndMs + 60000), "purchase", 2L, 0.0))
      q.processAllAvailable()
      spark.sql(
        "SELECT name, metric, ws, CAST(value AS DOUBLE) AS v FROM eq_multi")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .toSet.filter(_._3 < EndMs)
    } finally q.stop()
    assert(st.nonEmpty, "stream produced nothing for the fused funnel")
    // non-conf aggregations densify nothing on the batch side, so the row
    // sets must agree EXACTLY — names, metrics, windows, values
    assert(st == b, {
      val onlySt = st -- b
      val onlyB = b -- st
      s"stream-only=${onlySt.take(5)} batch-only=${onlyB.take(5)}"
    })
  }

  test("mixed conf/value funnel: conf selector fuses as a filtered slot-set aggregate") {
    // an avg (needs the slot collapse) beside a count_above_conf (presence
    // only) in ONE fused stateful operator — the r7 seam refused this
    // shape. Presence is collapse-invariant, so the conf selector's
    // collect_set rides the collapsed frame and its threshold mirror
    // becomes a projection; per-selector rows must still match the batch
    // union exactly (the funnel-shaped comparison below includes names).
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dql = s"SELECT avg('purchase'.'1' BUCKET 'testdata', 1 m), " +
      s"count_above_conf('purchase'.'1' BUCKET 'testdata', 0.5, 1 m) " +
      s"BETWEEN 0 AND $EndMs"
    val store = new ReplayStore(replay.toDF())
    val b = graft.dql.Compiler.run(spark, store, EndMs, dql)
      .select(col("name"), col("metric"), col("ts_ms"),
        col("value").cast("double"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toSet
    val in = MemoryStream[SeriesStream.Ev]
    val out = StreamingDql.compile(in.toDF(), dql, "0 seconds")
    val q = out.writeStream.format("memory").queryName("eq_multi_conf")
      .outputMode("append").start()
    val st = try {
      in.addData(replay: _*)
      in.addData(
        SeriesStream.Ev(new Timestamp(EndMs + 60000), "purchase", 1L, 0.0))
      q.processAllAvailable()
      spark.sql(
        "SELECT name, metric, ws, CAST(value AS DOUBLE) AS v FROM eq_multi_conf")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .toSet.filter(_._3 < EndMs)
    } finally q.stop()
    assert(st.nonEmpty, "stream produced nothing for the mixed conf funnel")
    // the batch side densifies only windows inside the queried range for
    // the SELECTED series, and purchase.1 has events in every 1 m window
    // of this replay — so the row sets must agree exactly
    assert(st == b, {
      val onlySt = st -- b
      val onlyB = b -- st
      s"stream-only=${onlySt.take(5)} batch-only=${onlyB.take(5)}"
    })
  }

  test("all-conf funnel stays single-stage: two conf selectors fuse update-capably") {
    // no value selector ⇒ no collapse stage ⇒ ONE stateful operator —
    // assert both the plan shape and batch agreement (rows keyed by NAME:
    // both selectors share the series metric, the name channel is the
    // per-selector discriminator, as in the batch union)
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dql = s"SELECT count_above_conf('purchase'.'1' BUCKET 'testdata', 0.5, 1 m), " +
      s"count_below_conf('purchase'.'1' BUCKET 'testdata', 0.5, 1 m) " +
      s"BETWEEN 0 AND $EndMs"
    val in = MemoryStream[SeriesStream.Ev]
    val plan = StreamingDql.compile(in.toDF(), dql, "30 seconds")
      .queryExecution.analyzed.toString()
    assert("Aggregate".r.findAllIn(plan).size == 1, plan.take(2000))
    val store = new ReplayStore(replay.toDF())
    val b = graft.dql.Compiler.run(spark, store, EndMs, dql)
      .select(col("name"), col("ts_ms"), col("value").cast("double"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSet
    val in2 = MemoryStream[SeriesStream.Ev]
    val out = StreamingDql.compile(in2.toDF(), dql, "30 seconds")
    val q = out.writeStream.format("memory").queryName("eq_conf_funnel")
      .outputMode("update").start()
    val st = try {
      in2.addData(replay: _*)
      q.processAllAvailable()
      spark.sql(
        "SELECT name, ws, CAST(value AS DOUBLE) AS v FROM eq_conf_funnel")
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .toSet.filter(_._2 < EndMs)
    } finally q.stop()
    assert(st.nonEmpty, "stream produced nothing for the all-conf funnel")
    assert(st == b, {
      val onlySt = st -- b
      val onlyB = b -- st
      s"stream-only=${onlySt.take(5)} batch-only=${onlyB.take(5)}"
    })
  }

  test("the slot collapse is load-bearing: slotExact=false diverges on this replay") {
    // guard against the equivalence suite going vacuous: with the collapse
    // stage dropped, the stream aggregates RAW events — on the multi-event
    // replay a slot holding 2–3 events contributes every event to the
    // window aggregate instead of its slot mean, so the windowed avg MUST
    // differ from batch somewhere. If this ever passes with slotExact
    // false, the fixture no longer exercises the collapse.
    val dql =
      s"SELECT avg('purchase'.'1' BUCKET 'testdata', 1 m) BETWEEN 0 AND $EndMs"
    val b = batchRows(dql).map(r => (r._1, r._2) -> r._3).toMap
    val st = streamRows(dql, "eq_raw_divergence", slotExact = false)
      .filter(_._2 < EndMs)
    val diverged = st.exists(r => b.get((r._1, r._2)).exists(_ != r._3))
    assert(diverged,
      "raw-event streaming agreed with the batch series model on a " +
        "multi-event replay — the slot collapse would be untestable here")
  }
}
