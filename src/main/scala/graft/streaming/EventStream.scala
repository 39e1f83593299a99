package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.Exact

/** Streaming event-sequence analytics: the online forms of
  * [[graft.ops.Sessions]]. Sessionization is THE canonical stateful
  * streaming aggregation — Spark's `session_window` keeps one merging
  * window per (user, open session) and emits a session exactly once, when
  * the watermark passes its close (last event + gap). State is bounded by
  * the number of concurrently-open sessions, not history: a closed
  * session's state is dropped at emission, so a year-long firehose holds
  * state ∝ active users, the same bound a dedicated sessionizer service
  * carries.
  */
object EventStream {
  /** Gap-based streaming sessionization over an event stream carrying
    * (`ts` timestamp, `user_id`, `value`).
    *
    * Emits (user_id, session_start, session_last, n_events, sum_value)
    * per closed session — `session_window.end` is last-event + gap by
    * definition, so `session_last` (the last event's epoch millis)
    * subtracts the gap back out, aligning with the batch
    * [[graft.ops.Sessions.sessionize]] columns bit-for-bit: Spark's
    * session merge is the same closed/open `[t, t+gap)` boundary as the
    * batch `diff >= gap` split, and the value total runs through the
    * decimal-exact fold (order-independent across micro-batch merges).
    */
  def sessionize(events: DataFrame, gapMs: Long,
                 delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMs milliseconds"))
      .agg(count(lit(1)).as("n_events"),
        Exact.dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start"),
        (unix_millis(col("session_window.end")) - gapMs).as("session_last"),
        col("n_events"), col("sum_value"))

  /** per-user funnel progress: epoch-millis conversion time per step,
    * -1 while unconverted — monotonic, so each step fires at most once.
    * (Public and Seq-typed for the product encoder — a private ctor or
    * a bare Array breaks the generated serializer.)
    */
  final case class FunnelSt(times: Seq[Long])

  /** Online daily actives: event-time dedup on (user, day) feeding a
    * windowed count — the supported chained stateful pattern
    * (dropDuplicatesWithinWatermark → window aggregation, append mode),
    * so the distinct-users count never materializes a set: dedup state
    * is one marker row per (user, day) inside the watermark, the count
    * is an ordinary partial-aggregated window.
    *
    * Output (on window close): (day, dau).
    */
  def dailyActive(events: DataFrame, dayMs: Long): DataFrame = {
    val aday = expr(s"unix_millis(ts) DIV $dayMs")
    events
      .select(timestamp_millis(aday * dayMs).as("dts"), col("user_id"))
      .withWatermark("dts", "0 seconds")
      .dropDuplicatesWithinWatermark("user_id", "dts")
      .groupBy(window(col("dts"), s"$dayMs milliseconds"))
      .agg(count(lit(1)).as("dau"))
      .select(expr(s"unix_millis(window.start) DIV $dayMs").as("day"),
        col("dau"))
  }

  /** Online trailing-window actives (the WAU half of the board): each
    * activity EXPLODES into the `windowDays` target days it covers
    * (the batch [[graft.ops.Sessions.activeUsers]] trick — a trailing
    * distinct is not frame-expressible), then the same dedup→count
    * chain runs keyed on the TARGET day. The explosion pushes event
    * time forward, so the coverage rows close with the target day's
    * watermark, not the activity's. Join with [[dailyActive]] on `day`
    * downstream to drop phantom tail days (days covered but never
    * active), mirroring the batch semi-join.
    *
    * Output (on window close): (day, wau).
    */
  def windowActive(events: DataFrame, dayMs: Long,
                   windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val aday = expr(s"unix_millis(ts) DIV $dayMs")
    events
      .select(explode(sequence(aday, aday + (windowDays - 1))).as("tday"),
        col("user_id"))
      .select(timestamp_millis(col("tday") * dayMs).as("dts"),
        col("user_id"))
      // the explosion pushes event time up to windowDays−1 days ahead of
      // the activity, and a LATER in-order activity still back-fills
      // target days that far behind the pushed-forward frontier — the
      // watermark delay must hold those windows open or cross-batch
      // coverage is dropped as late (pinned by the spec)
      .withWatermark("dts", s"${(windowDays - 1) * dayMs} milliseconds")
      .dropDuplicatesWithinWatermark("user_id", "dts")
      .groupBy(window(col("dts"), s"$dayMs milliseconds"))
      .agg(count(lit(1)).as("wau"))
      .select(expr(s"unix_millis(window.start) DIV $dayMs").as("day"),
        col("wau"))
  }

  /** The DAU and WAU halves FUSED into one streaming query — the
    * plan-identity pass over the active-user shell: each event emits its
    * own day tagged `d` plus its `windowDays` coverage days tagged `w`
    * (one row-local explode), then ONE dedup→windowed-count chain runs
    * keyed on (user, tag, day). Per (tag, day) counts are exactly what
    * the two separate queries ([[dailyActive]], [[windowActive]])
    * produce — the tag key partitions the dedup state — but the stream
    * provisions once, compiles once, and keeps one operator pipeline
    * instead of two.
    *
    * The single watermark is the WAU half's (windowDays−1 days — the
    * back-fill bound [[windowActive]] documents), so `d` rows close
    * later than a standalone DAU query's would: the price of the fused
    * board, irrelevant to the gate (the sentinel advances past
    * everything) and usually right for a board whose WAU column waits
    * that long anyway. Output (on window close): (tag, day, n).
    */
  def activeBoard(events: DataFrame, dayMs: Long,
                  windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val aday = expr(s"unix_millis(ts) DIV $dayMs")
    events
      .select(explode(concat(
        array(struct(lit("d").as("tag"), aday.as("tday"))),
        transform(sequence(aday, aday + (windowDays - 1)),
          t => struct(lit("w").as("tag"), t.as("tday"))))).as("x"),
        col("user_id"))
      .select(col("x.tag").as("tag"),
        timestamp_millis(col("x.tday") * dayMs).as("dts"),
        col("user_id"))
      .withWatermark("dts", s"${(windowDays - 1) * dayMs} milliseconds")
      .dropDuplicatesWithinWatermark("user_id", "tag", "dts")
      .groupBy(col("tag"), window(col("dts"), s"$dayMs milliseconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("tag"),
        expr(s"unix_millis(window.start) DIV $dayMs").as("day"), col("n"))
  }

  /** per-user last-event state for [[transitions]] — the frontier is
    * the (ts, event_id) PAIR, matching the batch tie order: events that
    * share a user's timestamp fold in event_id order and COUNT (the
    * batch windows order by (ts_ms, event_id) and SessionsSpec asserts
    * the tie transition), so the frontier must advance per event, not
    * per timestamp — a ts-only frontier silently drops tied events.
    */
  final case class TransSt(lastTsMs: Long, lastEid: Long, lastType: String)
  final case class FeatSt(lastTsMs: Long, lastEid: Long, lastType: String,
                          n: Long)

  /** Online transition matrix — the streaming form of
    * [[graft.ops.Sessions.transitions]]: per-user keyed state holds the
    * last event (timestamp, type); an arriving event within the session
    * gap of it emits one (from, to) step, and a downstream grouped count
    * keeps the live matrix (run in update mode). A gap larger than
    * `gapMs` breaks the chain exactly as the batch session rule does.
    *
    * Same in-order contract as [[funnel]], with the frontier refined to
    * the (ts, event_id) pair: events fold in (event-time, event_id)
    * order within a micro-batch — the batch tie order — and arrivals at
    * or behind the per-user (ts, event_id) frontier drop (a stream
    * cannot splice a transition into history). Per-user timestamp TIES
    * therefore count exactly as the batch operator counts them. An
    * in-order replay reproduces the batch matrix exactly. State is one
    * (long, long, string) per user.
    */
  def transitions(events: DataFrame, gapMs: Long,
                  delay: String): DataFrame = {
    val inEnc = Encoders.tuple(Encoders.TIMESTAMP, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.STRING)
    val outEnc = Encoders.product[(String, String)]
    def fold(user: Long,
             rows: Iterator[(java.sql.Timestamp, Long, Long, String)],
             state: GroupState[TransSt]): Iterator[(String, String)] = {
      var last = state.getOption.orNull
      val out = Seq.newBuilder[(String, String)]
      for ((ts, _, eid, tpe) <- rows.toSeq
             .sortBy(r => (r._1.getTime, r._3))) {
        val t = ts.getTime
        if (last == null || t > last.lastTsMs ||
            (t == last.lastTsMs && eid > last.lastEid)) {
          if (last != null && t - last.lastTsMs <= gapMs)
            out += ((last.lastType, tpe))
          last = TransSt(t, eid, tpe)
        }
      }
      if (last != null) state.update(last)
      out.result().iterator
    }
    events
      .withWatermark("ts", delay)
      .selectExpr("ts", "user_id", "event_id", "event_type")
      .as[(java.sql.Timestamp, Long, Long, String)](inEnc)
      .groupByKey(_._2)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fold)(
        Encoders.product[TransSt], outEnc)
      .toDF("from_type", "to_type")
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
  }

  /** Online per-event lag features — the batch `events_features` rows
    * (previous type, inter-event gap, ordinal) the moment an event
    * arrives: keyed state is one (lastTs, lastEid, lastType, count) per
    * user, the [[transitions]] (ts, event_id) frontier contract —
    * per-user timestamp ties fold in event_id order and COUNT (gap 0),
    * exactly as the batch LAG over (ts_ms, event_id) windows them — so
    * in-order replays reproduce the batch window exactly. First events
    * emit NULL prev/gap via Option fields, matching the batch LAG's
    * leading nulls.
    */
  def lagFeatures(events: DataFrame, delay: String): DataFrame = {
    val inEnc = Encoders.tuple(Encoders.TIMESTAMP, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.STRING)
    val outEnc =
      Encoders.product[(Long, Long, Long, String, Option[String],
        Option[Long], Long)]
    def fold(user: Long,
             rows: Iterator[(java.sql.Timestamp, Long, Long, String)],
             state: GroupState[FeatSt]): Iterator[
        (Long, Long, Long, String, Option[String], Option[Long], Long)] = {
      var st = state.getOption.orNull
      val out = Seq.newBuilder[
        (Long, Long, Long, String, Option[String], Option[Long], Long)]
      for ((ts, _, eid, tpe) <- rows.toSeq
             .sortBy(r => (r._1.getTime, r._3))) {
        val t = ts.getTime
        if (st == null || t > st.lastTsMs ||
            (t == st.lastTsMs && eid > st.lastEid)) {
          val idx = if (st == null) 1L else st.n + 1L
          out += ((user, eid, t, tpe,
            Option(st).map(_.lastType),
            Option(st).map(t - _.lastTsMs), idx))
          st = FeatSt(t, eid, tpe, idx)
        }
      }
      if (st != null) state.update(st)
      out.result().iterator
    }
    events
      .withWatermark("ts", delay)
      .selectExpr("ts", "user_id", "event_id", "event_type")
      .as[(java.sql.Timestamp, Long, Long, String)](inEnc)
      .groupByKey(_._2)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fold)(
        Encoders.product[FeatSt], outEnc)
      .toDF("user_id", "event_id", "ts_ms", "event_type", "prev_type",
        "gap_ms", "evt_idx")
  }

  /** keyed state for [[attribution]]: the (ts, kind, event_id) frontier
    * plus the user's last touch (ts, event_id); `touchTs < 0` = none yet
    */
  final case class AtSt(lastTsMs: Long, lastKind: Int, lastEid: Long,
                        touchTs: Long, touchEid: Long)

  /** Online last-touch attribution — the streaming form of
    * [[graft.ops.Sessions.attribution]]: one (ts, event_id) per user of
    * keyed state; an arriving conversion is credited the moment it
    * lands. In-batch rows fold in (ts, kind, event_id) order — touch
    * before conversion at equal ts, the batch sweep's union ordering —
    * and arrivals at or behind that triple frontier drop, so in-order
    * replays reproduce the batch sweep exactly.
    *
    * Output: (user_id, conv_id, conv_ts, touch_id, gap_ms).
    */
  def attribution(events: DataFrame, touchType: String, convType: String,
                  windowMs: Long, delay: String): DataFrame = {
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    val inEnc = Encoders.tuple(Encoders.TIMESTAMP, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.STRING)
    val outEnc = Encoders.product[
      (Long, Long, Long, Option[Long], Option[Long])]
    def fold(user: Long,
             rows: Iterator[(java.sql.Timestamp, Long, Long, String)],
             state: GroupState[AtSt]): Iterator[
        (Long, Long, Long, Option[Long], Option[Long])] = {
      var st = state.getOption
        .getOrElse(AtSt(Long.MinValue, -1, Long.MinValue, -1L, -1L))
      val out = Seq.newBuilder[
        (Long, Long, Long, Option[Long], Option[Long])]
      def kindOf(tpe: String) = if (tpe == touchType) 0 else 1
      for ((ts, _, eid, tpe) <- rows.toSeq
             .sortBy(r => (r._1.getTime, kindOf(r._4), r._3))) {
        val t = ts.getTime
        val k = kindOf(tpe)
        val ahead = t > st.lastTsMs ||
          (t == st.lastTsMs && (k > st.lastKind ||
            (k == st.lastKind && eid > st.lastEid)))
        if (ahead) {
          if (k == 0) st = AtSt(t, k, eid, t, eid)
          else {
            val fresh = st.touchTs >= 0 && t - st.touchTs <= windowMs
            out += ((user, eid, t,
              if (fresh) Some(st.touchEid) else None,
              if (fresh) Some(t - st.touchTs) else None))
            st = AtSt(t, k, eid, st.touchTs, st.touchEid)
          }
        }
      }
      state.update(st)
      out.result().iterator
    }
    events
      .withWatermark("ts", delay)
      .where(col("event_type").isin(touchType, convType))
      .selectExpr("ts", "user_id", "event_id", "event_type")
      .as[(java.sql.Timestamp, Long, Long, String)](inEnc)
      .groupByKey(_._2)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fold)(
        Encoders.product[AtSt], outEnc)
      .toDF("user_id", "conv_id", "conv_ts", "touch_id", "gap_ms")
  }

  /** Online conversion funnel — the streaming form of
    * [[graft.ops.Sessions.funnel]]: per-user keyed state holds the
    * step-conversion times; when an arriving event completes a user's
    * next step (strictly after the previous step's time, the batch
    * rule), the stateful stage emits that (user, step) exactly once, and
    * a downstream count aggregates live per-step converted-user totals.
    * Two stateful operators — flatMapGroupsWithState in Append feeding a
    * grouped count (run the query in update mode) — both keyed small:
    * state is one long array per user, one count row per step.
    *
    * In-order contract: events are folded in event-time order WITHIN a
    * micro-batch; an event arriving in a later batch with an earlier
    * timestamp than an already-recorded conversion cannot retract it
    * (the batch form's global min can). Same within-watermark trade
    * every online funnel makes; the replay gate arrives as one batch, so
    * the gate matches the batch oracle exactly (for steps with at least
    * one conversion — a zero-converter step emits no count row online,
    * while the batch form reports it as 0).
    *
    * State lifetime: funnel state is permanent per user by default (an
    * analytics funnel is a lifetime property); bound it with a state-
    * TTL variant if user cardinality is unbounded.
    */
  def funnel(events: DataFrame, steps: Seq[String],
             delay: String): DataFrame =
    funnelImpl(events, steps, delay, windowMs = 0L)

  /** [[funnel]] with a conversion deadline
    * ([[graft.ops.Sessions.funnelWithin]]'s rule online): step i ≥ 1
    * records only within `windowMs` of the user's recorded step-0 time.
    * Same state, one more comparison in the fold.
    */
  def funnelWithin(events: DataFrame, steps: Seq[String], delay: String,
                   windowMs: Long): DataFrame = {
    require(windowMs > 0, s"windowMs must be > 0, got $windowMs")
    funnelImpl(events, steps, delay, windowMs)
  }

  private def funnelImpl(events: DataFrame, steps: Seq[String],
                         delay: String, windowMs: Long): DataFrame = {
    require(steps.nonEmpty)
    val n = steps.size
    val inEnc = Encoders.tuple(Encoders.TIMESTAMP, Encoders.scalaLong,
      Encoders.STRING)
    val outEnc = Encoders.product[(Long, String)]
    def fold(user: Long,
             rows: Iterator[(java.sql.Timestamp, Long, String)],
             state: GroupState[FunnelSt]): Iterator[(Long, String)] = {
      val times = state.getOption.map(_.times.toArray)
        .getOrElse(Array.fill(n)(-1L))
      val out = Seq.newBuilder[(Long, String)]
      var changed = false
      for ((ts, _, tpe) <- rows.toSeq.sortBy(_._1.getTime)) {
        var i = 0
        while (i < n) {
          if (steps(i) == tpe && times(i) < 0 &&
            (i == 0 || (times(i - 1) >= 0 && ts.getTime > times(i - 1) &&
              (windowMs == 0L || ts.getTime <= times(0) + windowMs)))) {
            times(i) = ts.getTime
            changed = true
            out += ((i.toLong, steps(i)))
          }
          i += 1
        }
      }
      if (changed) state.update(FunnelSt(times.toSeq))
      out.result().iterator
    }
    events
      .withWatermark("ts", delay)
      .selectExpr("ts", "user_id", "event_type")
      .as[(java.sql.Timestamp, Long, String)](inEnc)
      .groupByKey(_._2)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fold)(
        Encoders.product[FunnelSt], outEnc)
      .toDF("step_idx", "step")
      .groupBy(col("step_idx"), col("step"))
      .agg(count(lit(1)).as("users"))
  }
}
