package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming execution of the series model (builder brief: the
  * reference's chunked pull execution maps to real streaming here —
  * `readStream` → watermarked windowed aggregation → sink; SURVEY §2.10
  * notes the reference has NO late-data story, so this is a capability
  * extension, not a port).
  *
  * Two pieces:
  *  - [[windowAgg]]: the §2.2 tumbling aggregations as a streaming query —
  *    same window semantics as the batch path (epoch-aligned tumbling
  *    windows), with a watermark bounding state.
  *  - [[detectGaps]]: the reference's first-class missing-point concept
  *    (`src/dqe_get.erl:54-60` empty cells) on a stream: a per-series
  *    `flatMapGroupsWithState` that emits an explicit gap record when
  *    consecutive points are further apart than the resolution allows —
  *    the streaming dual of the batch gap-fill spine.
  */
object SeriesStream {

  /** raw event row for the streaming path */
  final case class Ev(ts: java.sql.Timestamp, event_type: String,
                      user_id: Long, value: Double)

  /** emitted gap marker: [gapStartMs, gapEndMs) had no points */
  final case class Gap(metric: String, gapStartMs: Long, gapEndMs: Long,
                       missedSlots: Long)

  /** Tumbling-window aggregation over an event stream: one row per
    * (series, window) with the aggregate value and the point count.
    * Watermark bounds state: windows older than it are finalized and
    * evicted — at scale, state size is (open windows × live series), not
    * history.
    */
  def windowAgg(events: DataFrame, windowDur: String, watermark: String,
                aggName: String): DataFrame = {
    val agg = aggName match {
      case "sum"   => sum(col("value"))
      case "avg"   => avg(col("value"))
      case "min"   => min(col("value"))
      case "max"   => max(col("value"))
      case "count" => count(lit(1)).cast("double")
      case other   => throw new IllegalArgumentException(
        s"windowAgg: unsupported aggregate '$other' (sum|avg|min|max|count)")
    }
    events
      .withWatermark("ts", watermark)
      .groupBy(
        window(col("ts"), windowDur).as("w"),
        concat_ws(".", col("event_type"), col("user_id")).as("metric"))
      .agg(agg.as("value"), count(lit(1)).as("n_points"))
      .select(col("metric"), unix_millis(col("w.start")).as("ws"),
        col("value"), col("n_points"))
  }

  /** derivate output point */
  final case class Deriv(metric: String, ts_ms: Long, value: Double)

  /** Streaming derivate: per-series difference between consecutive points
    * — the stateful dual of the batch `derivate` transform (reference
    * `src/dqe_derivate.erl`). State per series is the last (ts, value);
    * out-of-order points at or before the frontier are dropped (same
    * policy as [[detectGaps]]). The batch path backfills the first delta
    * (v'(0)=v'(1), a lookahead); a stream cannot look ahead, so emission
    * starts at the SECOND point of each series — the one semantic
    * divergence, documented here.
    */
  def derivate(spark: SparkSession, events: Dataset[Ev]): Dataset[Deriv] = {
    import spark.implicits._
    events
      .groupByKey(e => s"${e.event_type}.${e.user_id}")
      .flatMapGroupsWithState[(Long, Double), Deriv](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (metric: String, rows: Iterator[Ev],
         state: GroupState[(Long, Double)]) =>
          val last = if (state.exists) Some(state.get) else None
          val pts = rows.map(e => (e.ts.getTime, e.value)).toSeq
            .sortBy(_._1)
          val fresh = last.fold(pts)(l => pts.dropWhile(_._1 <= l._1))
          if (fresh.isEmpty) Iterator.empty
          else {
            val all = last.fold(fresh)(_ +: fresh)
            state.update(all.last)
            all.sliding(2).collect {
              case Seq((_, v0), (t1, v1)) => Deriv(metric, t1, v1 - v0)
            }
          }
      }
  }

  /** emitted z-scored point; `zscore` is None on a zero-variance window */
  final case class Zs(metric: String, ts_ms: Long, value: Double,
                      zscore: Option[Double], anomaly: Boolean)

  /** per-series z-score state: event-time frontier + the trailing values
    * (oldest first, at most n−1 of them)
    */
  final case class ZSt(frontierMs: Long, tail: Seq[Double])

  /** Streaming trailing-n z-score — the online form of
    * [[graft.ops.Rolling.zscore]]: each arriving point is scored against
    * the trailing `n`-point distribution of its own series (current point
    * included), `|z| > threshold` flags an anomaly, and a zero-variance
    * window (including every series' first point) yields a NULL z that
    * never flags.
    *
    * State per series is the frontier timestamp plus at most n−1 doubles
    * — O(n) regardless of history. Points are folded in event-time order
    * within a micro-batch; arrivals at or before the frontier are dropped
    * ([[derivate]]'s policy — a stream cannot re-open an already-scored
    * window). An in-order replay therefore reproduces the batch operator
    * exactly.
    *
    * The moments replicate the batch decimal-exact path bit-for-bit:
    * each value (and square) is rounded to 10 decimal places HALF_UP —
    * Spark's double→DECIMAL(·,10) cast — summed exactly in BigDecimal,
    * and lowered to double once, so the stream's z equals the batch's on
    * the same window in every ulp.
    */
  def zscore(spark: SparkSession, events: Dataset[Ev], n: Int,
             threshold: Double): Dataset[Zs] = {
    import spark.implicits._
    require(n >= 1, s"n must be >= 1, got $n")
    def dec10(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x).setScale(10,
        java.math.RoundingMode.HALF_UP)
    events
      .groupByKey(e => s"${e.event_type}.${e.user_id}")
      .flatMapGroupsWithState[ZSt, Zs](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (metric: String, rows: Iterator[Ev], state: GroupState[ZSt]) =>
          val st = state.getOption.getOrElse(ZSt(Long.MinValue, Nil))
          var frontier = st.frontierMs
          var buf = st.tail.toVector
          val out = Vector.newBuilder[Zs]
          for ((t, v) <- rows.map(e => (e.ts.getTime, e.value)).toSeq
                 .sortBy(_._1) if t > frontier) {
            val win = (buf :+ v).takeRight(n)
            val cnt = win.size.toDouble
            val s1 = win.map(dec10).reduce(_ add _).doubleValue
            val s2 = win.map(x => dec10(x * x)).reduce(_ add _).doubleValue
            val mean = s1 / cnt
            val std = math.sqrt(math.max(s2 / cnt - math.pow(mean, 2.0), 0.0))
            val z = if (std > 0.0) Some((v - mean) / std) else None
            out += Zs(metric, t, v, z, z.exists(x => math.abs(x) > threshold))
            buf = win.takeRight(n - 1)
            frontier = t
          }
          state.update(ZSt(frontier, buf))
          out.result().iterator
      }
  }

  /** emitted CUSUM point */
  final case class Cu(metric: String, ts_ms: Long, value: Double,
                      cusum: Double, alarm: Boolean)
  /** CUSUM keyed state: event-time frontier + the running score as the
    * exact scale-10 decimal's PLAIN STRING — the state IS the exact
    * decimal, so cross-batch carry loses nothing (a double here would
    * re-round per batch boundary and drift from the batch closed form).
    * A string rather than an unscaled long: a cumulative score past
    * ~9.2e8 would overflow the long's unscaled range and kill the query
    * with ArithmeticException on a long-running drifting series, while
    * the batch closed form (DECIMAL(28,10)) keeps going to ~1e18.
    */
  final case class CuSt(frontierMs: Long, s10: String)

  /** Streaming CUSUM⁺ — the online form of
    * [[graft.ops.Rolling.cusum]]: the direct `max(0, s + d)` recursion
    * over the SAME scale-10 HALF_UP decimals the batch closed form
    * sums, which is algebraically identical in exact arithmetic — so
    * in-order replays are bit-for-bit ≡ batch. Same frontier/ordering
    * contract as [[zscore]]; state is two longs per series.
    */
  def cusum(spark: SparkSession, events: Dataset[Ev], ref: Double,
            threshold: Double): Dataset[Cu] = {
    import spark.implicits._
    events
      .groupByKey(e => s"${e.event_type}.${e.user_id}")
      .flatMapGroupsWithState[CuSt, Cu](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (metric: String, rows: Iterator[Ev], state: GroupState[CuSt]) =>
          val st = state.getOption.getOrElse(CuSt(Long.MinValue, "0"))
          var frontier = st.frontierMs
          var s = new java.math.BigDecimal(st.s10).setScale(10)
          val out = Vector.newBuilder[Cu]
          for ((t, v) <- rows.map(e => (e.ts.getTime, e.value)).toSeq
                 .sortBy(_._1) if t > frontier) {
            val d = java.math.BigDecimal.valueOf(v - ref)
              .setScale(10, java.math.RoundingMode.HALF_UP)
            val cand = s.add(d)
            s = if (cand.signum() < 0)
              java.math.BigDecimal.ZERO.setScale(10) else cand
            val c = s.doubleValue
            out += Cu(metric, t, v, c, c > threshold)
            frontier = t
          }
          state.update(CuSt(frontier, s.toPlainString))
          out.result().iterator
      }
  }

  /** emitted Holt point */
  final case class Ho(metric: String, ts_ms: Long, value: Double,
                      level: Double, trend: Double)
  /** Holt keyed state: (ts, value) pair frontier + the two smoother
    * values as exact scale-9 decimal PLAIN STRINGS (the CUSUM state
    * convention) — the recurrence is exact-decimal like the batch fold,
    * so cross-batch carry loses nothing and there is no double-space tie
    * to resolve.
    */
  final case class HoSt(frontierMs: Long, frontierVal: Double,
                        level: String, trend: String)

  /** Streaming Holt double-exponential smoothing — the online form of
    * [[graft.ops.Rolling.holt]] and its SCALE PATH: the batch fold
    * materializes each series in-row, while this carries O(1) state
    * (frontier + level + trend) per series. The frontier is the
    * (ts_ms, value) PAIR (the transitions/lagFeatures convention): the
    * batch fold and the oracle both step same-timestamp points in
    * (ts, value) order, and a ts-only frontier would silently drop the
    * tie's later half. Residual precondition: an exact duplicate
    * (metric, ts, value) point IS deduped online (idempotent-delivery
    * semantics) while the batch fold steps it twice — inputs must be
    * distinct triples for bit-parity. The per-step arithmetic is the
    * batch fold's exact-decimal ladder (half-sums exact at scale 10,
    * HALF_UP back to scale 9), so in-order replays are bit-for-bit ≡
    * batch.
    */
  def holt(spark: SparkSession, events: Dataset[Ev]): Dataset[Ho] = {
    import spark.implicits._
    import java.math.{BigDecimal => JBD, RoundingMode}
    val HalfBd = new JBD("0.5")
    def d9(x: Double): JBD =
      JBD.valueOf(x).setScale(9, RoundingMode.HALF_UP)
    events
      .groupByKey(e => s"${e.event_type}.${e.user_id}")
      .flatMapGroupsWithState[HoSt, Ho](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (metric: String, rows: Iterator[Ev], state: GroupState[HoSt]) =>
          val st = state.getOption.getOrElse(
            HoSt(Long.MinValue, Double.NegativeInfinity, "", ""))
          var frontier = st.frontierMs
          var frontierVal = st.frontierVal
          var seeded = st.level.nonEmpty
          var level = if (seeded) new JBD(st.level) else JBD.ZERO
          var trend = if (seeded) new JBD(st.trend) else JBD.ZERO
          val out = Vector.newBuilder[Ho]
          for ((t, v) <- rows.map(e => (e.ts.getTime, e.value)).toSeq
                 .sorted
               if t > frontier || (t == frontier && v > frontierVal)) {
            if (!seeded) {
              level = d9(v); trend = JBD.ZERO.setScale(9); seeded = true
            } else {
              val nl = HalfBd.multiply(d9(v))
                .add(HalfBd.multiply(level.add(trend)))
                .setScale(9, RoundingMode.HALF_UP)
              trend = HalfBd.multiply(nl.subtract(level))
                .add(HalfBd.multiply(trend))
                .setScale(9, RoundingMode.HALF_UP)
              level = nl
            }
            out += Ho(metric, t, v, level.doubleValue, trend.doubleValue)
            frontier = t
            frontierVal = v
          }
          if (seeded)
            state.update(HoSt(frontier, frontierVal, level.toPlainString,
              trend.toPlainString))
          out.result().iterator
      }
  }

  /** emitted smoothed point */
  final case class Ew(metric: String, ts_ms: Long, value: Double,
                      ewma: Double)

  /** Streaming trailing-n dyadic EWMA — the online form of
    * [[graft.ops.Rolling.ewma]], same state/ordering contract as
    * [[zscore]] (frontier + at most n−1 trailing doubles, in-batch
    * event-time order, behind-frontier arrivals drop). The weighted sum
    * replicates the batch BIGINT fold exactly — weight 2^(n-1-j) over
    * the 1e-7 fixed-point values, two double divisions at the end — so
    * an in-order replay reproduces the batch smoother bit-for-bit.
    */
  def ewma(spark: SparkSession, events: Dataset[Ev],
           n: Int): Dataset[Ew] = {
    import spark.implicits._
    require(n >= 1 && n <= 16, s"n must be in [1, 16], got $n")
    events
      .groupByKey(e => s"${e.event_type}.${e.user_id}")
      .flatMapGroupsWithState[ZSt, Ew](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (metric: String, rows: Iterator[Ev], state: GroupState[ZSt]) =>
          val st = state.getOption.getOrElse(ZSt(Long.MinValue, Nil))
          var frontier = st.frontierMs
          var buf = st.tail.toVector
          val out = Vector.newBuilder[Ew]
          for ((t, v) <- rows.map(e => (e.ts.getTime, e.value)).toSeq
                 .sortBy(_._1) if t > frontier) {
            val win = (buf :+ v).takeRight(n)
            var s = 0L; var w = 0L
            var j = 0
            while (j < win.size) { // win is oldest-first; weight by recency
              val wt = 1L << j
              // Spark's round(double): shortest-decimal BigDecimal,
              // HALF_UP — replicated exactly, not math.round
              val sc = java.math.BigDecimal.valueOf(win(j) * 1e7)
                .setScale(0, java.math.RoundingMode.HALF_UP)
                .doubleValue.toLong
              s += sc * wt
              w += wt
              j += 1
            }
            out += Ew(metric, t, v, s.toDouble / w.toDouble / 1e7)
            buf = win.takeRight(n - 1)
            frontier = t
          }
          state.update(ZSt(frontier, buf))
          out.result().iterator
      }
  }

  /** emitted MAD-scored point; `mad_score` None on a zero-MAD window */
  final case class Md(metric: String, ts_ms: Long, value: Double,
                      mad_score: Option[Double], anomaly: Boolean)

  /** Streaming trailing-n MAD anomaly — the online form of
    * [[graft.ops.Rolling.mad]]: same frontier+tail keyed state as
    * [[zscore]], with the robust median/MAD score computed row-locally
    * in the fold. The medians replicate the batch exactly — sorted
    * window, `(a+b)/2.0` even-count interpolation, `|v − med| / MAD` —
    * pure double arithmetic in one op order, so an in-order replay is
    * bit-for-bit ≡ the batch operator.
    */
  def mad(spark: SparkSession, events: Dataset[Ev], n: Int,
          threshold: Double): Dataset[Md] = {
    import spark.implicits._
    require(n >= 1, s"n must be >= 1, got $n")
    def medianOf(sorted: IndexedSeq[Double]): Double = {
      val c = sorted.length
      if (c % 2 == 1) sorted((c + 1) / 2 - 1)
      else (sorted(c / 2 - 1) + sorted(c / 2)) / 2.0
    }
    events
      .groupByKey(e => s"${e.event_type}.${e.user_id}")
      .flatMapGroupsWithState[ZSt, Md](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (metric: String, rows: Iterator[Ev], state: GroupState[ZSt]) =>
          val st = state.getOption.getOrElse(ZSt(Long.MinValue, Nil))
          var frontier = st.frontierMs
          var buf = st.tail.toVector
          val out = Vector.newBuilder[Md]
          for ((t, v) <- rows.map(e => (e.ts.getTime, e.value)).toSeq
                 .sortBy(_._1) if t > frontier) {
            val win = (buf :+ v).takeRight(n)
            val med = medianOf(win.sorted)
            val madV = medianOf(win.map(x => math.abs(x - med)).sorted)
            val score =
              if (madV > 0.0) Some(math.abs(v - med) / madV) else None
            out += Md(metric, t, v, score, score.exists(_ > threshold))
            buf = win.takeRight(n - 1)
            frontier = t
          }
          state.update(ZSt(frontier, buf))
          out.result().iterator
      }
  }

  /** emitted rated point; `rate` None on each series' first point */
  final case class Rt(metric: String, ts_ms: Long, value: Double,
                      rate: Option[Double])

  /** per-series last-point state for [[rate]] */
  final case class RSt(lastTsMs: Long, lastValue: Double)

  /** Streaming counter-reset-aware rate — the online form of
    * [[graft.ops.Rolling.rate]]: state per series is the last (ts,
    * value); each arrival emits its per-second rate with PromQL reset
    * semantics (a decrease contributes the restarted value). Same
    * ordering contract as [[derivate]]; an in-order replay reproduces
    * the batch operator bit-for-bit (identical double arithmetic).
    */
  def rate(spark: SparkSession, events: Dataset[Ev]): Dataset[Rt] = {
    import spark.implicits._
    events
      .groupByKey(e => s"${e.event_type}.${e.user_id}")
      .flatMapGroupsWithState[RSt, Rt](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (metric: String, rows: Iterator[Ev], state: GroupState[RSt]) =>
          var last = state.getOption.orNull
          val out = Vector.newBuilder[Rt]
          for ((t, v) <- rows.map(e => (e.ts.getTime, e.value)).toSeq
                 .sortBy(_._1) if last == null || t > last.lastTsMs) {
            val r =
              if (last == null) None
              else {
                val delta =
                  if (v - last.lastValue < 0.0) v else v - last.lastValue
                Some(delta / ((t - last.lastTsMs) / 1000.0))
              }
            out += Rt(metric, t, v, r)
            last = RSt(t, v)
          }
          if (last != null) state.update(last)
          out.result().iterator
      }
  }

  /** Per-series gap detection with explicit state: keeps the last seen
    * slot per series; when a new point arrives more than one resolution
    * step later, emits the gap. Slots at or before the stored frontier
    * (out-of-order batches) are dropped: they must neither regress the
    * frontier nor fabricate negative deltas that would suppress real gaps
    * or re-emit old ones.
    *
    * State is one long per series. `idleTimeout = Some(d)` arms a
    * processing-time timeout that EVICTS idle series, bounding state by
    * live cardinality instead of lifetime cardinality — pass it on
    * production firehoses with series churn. It is opt-in because
    * processing-time timeouts keep the micro-batch engine re-triggering,
    * which deadlocks `processAllAvailable`-style drain-and-stop harnesses
    * (and is pointless for bounded replays).
    */
  def detectGaps(spark: SparkSession, events: Dataset[Ev],
                 resolutionMs: Long,
                 idleTimeout: Option[String] = None): Dataset[Gap] = {
    import spark.implicits._
    val timeoutConf = idleTimeout.fold(GroupStateTimeout.NoTimeout())(_ =>
      GroupStateTimeout.ProcessingTimeTimeout())
    def arm(state: GroupState[Long]): Unit =
      idleTimeout.foreach(state.setTimeoutDuration)
    events
      .groupByKey(e => s"${e.event_type}.${e.user_id}")
      .flatMapGroupsWithState[Long, Gap](OutputMode.Append(), timeoutConf) {
        (metric: String, rows: Iterator[Ev], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // idle series: drop its state — the trailing gap is unknowable
            // without data; a later point simply restarts tracking
            state.remove()
            Iterator.empty
          } else {
            val last = if (state.exists) Some(state.get) else None
            val fresh = rows.map(e =>
              e.ts.getTime - e.ts.getTime % resolutionMs).toSeq.sorted.distinct
            val slots = last.fold(fresh)(l => fresh.dropWhile(_ <= l))
            if (slots.isEmpty) {
              if (state.exists) arm(state)
              Iterator.empty
            } else {
              val all = last.fold(slots)(_ +: slots)
              val gaps = all.sliding(2).collect {
                case Seq(a, b) if b - a > resolutionMs =>
                  Gap(metric, a + resolutionMs, b, (b - a) / resolutionMs - 1)
              }.toVector
              state.update(slots.last)
              arm(state)
              gaps.iterator
            }
          }
      }
  }
}
