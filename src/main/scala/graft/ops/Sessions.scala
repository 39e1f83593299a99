package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Exact

/** Event-sequence analytics over the `events` stream table: gap-based
  * sessionization, ordered funnels, and top event paths. The reference's
  * event surface stops at scan+filter (src/dqe_events.erl); these are the
  * per-user sequence operators an analytics deployment layers on top of
  * that scan, expressed as single-shuffle window plans.
  *
  * All three partition once on `user_id` (the natural key: per-user event
  * counts are bounded by human activity, so no skew salting is needed) and
  * keep every per-user pass inside that one exchange — at 100 TB the cost
  * is one shuffle of the filtered scan, then partition-local sorts.
  */
object Sessions {
  /** Epoch-millis `ts_ms` ordering tie-broken by `event_id` (unique), so
    * every sequence below is deterministic under equal timestamps.
    */
  private val byTime = Seq(col("ts_ms"), col("event_id"))

  /** Gap-based sessionization: events of one user belong to one session
    * while consecutive gaps are ≤ `gapMs`; only a gap strictly greater
    * than `gapMs` starts a new session. That closed boundary is Spark's
    * `session_window(ts, gap)` merge rule — a session `[t, t+gap]` also
    * absorbs an event that lands exactly ON its end — so the batch and
    * streaming forms agree bit-for-bit (EventStreamSpec pins the
    * boundary).
    *
    * One shuffle on `user_id`; the lag/cumsum windows and the session
    * aggregation all share that partitioning (the groupBy adds the
    * session index to the key, which Catalyst satisfies without a second
    * exchange since `user_id` still prefixes it).
    *
    * Output: (user_id, session_start, session_last, n_events, sum_value)
    * — `sum_value` through the decimal-exact fold (Exact.dsum) so the
    * session total is order-independent across engines.
    */
  def sessionize(ev: DataFrame, gapMs: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(byTime: _*)
    val gap = col("ts_ms") - lag(col("ts_ms"), 1).over(w)
    ev.withColumn("new_sess",
        when(gap.isNull || gap > gapMs, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts_ms")).as("session_start"),
        max(col("ts_ms")).as("session_last"),
        count(lit(1)).as("n_events"),
        Exact.dsum(col("value")).as("sum_value"))
  }

  /** Shared CTE prefix deriving per-event session indices — the
    * lag/cumsum derivation both sessionize mirrors group over.
    */
  private def sessionCtes(gapMs: Long): String =
    s"""WITH e AS (SELECT event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
       |                  user_id, event_type, value
       |           FROM events),
       |flag AS (SELECT *,
       |    CASE WHEN ts_ms - lag(ts_ms) OVER
       |             (PARTITION BY user_id ORDER BY ts_ms, event_id)
       |           > $gapMs
       |           OR lag(ts_ms) OVER
       |             (PARTITION BY user_id ORDER BY ts_ms, event_id) IS NULL
       |         THEN 1 ELSE 0 END AS new_sess
       |  FROM e),
       |sess AS (SELECT *,
       |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
       |                        ROWS UNBOUNDED PRECEDING) AS session_idx
       |  FROM flag)""".stripMargin

  /** DuckDB mirror of [[sessionize]] (selects the gate's columns). */
  def sessionizeSql(gapMs: Long): String =
    s"""${sessionCtes(gapMs)}
       |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       |       MIN(ts_ms) AS session_start, MAX(ts_ms) AS session_last,
       |       COUNT(*) AS n_events, ${Exact.dsumSql("value")} AS sum_value
       |FROM sess GROUP BY user_id, session_idx
       |ORDER BY user_id, session_idx""".stripMargin

  /** DuckDB mirror of the STREAM sessionize gate
    * ([[graft.streaming.EventStream.sessionize]]): same session
    * derivation, without the batch gate's session index column (a
    * `session_window` is identified by its bounds, not an ordinal).
    */
  def sessionizeStreamSql(gapMs: Long): String =
    s"""${sessionCtes(gapMs)}
       |SELECT user_id,
       |       MIN(ts_ms) AS session_start, MAX(ts_ms) AS session_last,
       |       COUNT(*) AS n_events, ${Exact.dsumSql("value")} AS sum_value
       |FROM sess GROUP BY user_id, session_idx
       |ORDER BY user_id, session_start""".stripMargin

  /** Session-size distribution — the engagement histogram over
    * [[sessionize]]'s output: how many sessions contain each event
    * count (the 1-event bounce bucket vs the long-session tail). One
    * more partial-aggregated shuffle over rows already reduced to one
    * per session.
    */
  def sessionStats(ev: DataFrame, gapMs: Long): DataFrame =
    sessionize(ev, gapMs)
      .groupBy("n_events").agg(count(lit(1)).as("n_sessions"))

  /** DuckDB mirror of [[sessionStats]]. */
  def sessionStatsSql(gapMs: Long): String =
    s"""SELECT n_events, COUNT(*) AS n_sessions FROM (
       |${sessionizeSql(gapMs)}
       |) GROUP BY 1 ORDER BY n_events""".stripMargin

  /** First-order transition counts (the Markov-chain view of the event
    * log): within each session ([[sessionize]]'s gap rule), count every
    * `event_type → next event_type` step. Session boundaries break
    * chains — the last event of a session has no successor.
    *
    * Same single `user_id` shuffle as sessionize: the session index is
    * derived in the first window pass, the successor lookup partitions
    * on (user_id, session_idx) — a superset of the existing hash key, so
    * Catalyst satisfies it without a second exchange — and the final
    * (from, to) count is a partial-aggregated shuffle of at most
    * |event types|² rows.
    *
    * Output: (from_type, to_type, n).
    */
  def transitions(ev: DataFrame, gapMs: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(byTime: _*)
    val gap = col("ts_ms") - lag(col("ts_ms"), 1).over(w)
    val sess = ev
      .withColumn("new_sess",
        when(gap.isNull || gap > gapMs, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    val w2 = Window.partitionBy("user_id", "session_idx").orderBy(byTime: _*)
    sess
      .withColumn("to_type", lead(col("event_type"), 1).over(w2))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** DuckDB mirror of [[transitions]]. */
  def transitionsSql(gapMs: Long): String =
    s"""${sessionCtes(gapMs)},
       |nx AS (SELECT event_type,
       |           lead(event_type) OVER (PARTITION BY user_id, session_idx
       |                                  ORDER BY ts_ms, event_id) AS to_type
       |       FROM sess)
       |SELECT event_type AS from_type, to_type, COUNT(*) AS n
       |FROM nx WHERE to_type IS NOT NULL
       |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin

  /** Ordered conversion funnel: for `steps = Seq(a, b, c)`, a user
    * converts step i when an event of type `steps(i)` occurs strictly
    * after their step i-1 conversion time (step 0 = first `a` event).
    * "First qualifying event" semantics — the classic product-analytics
    * funnel, not a subsequence count.
    *
    * One shuffle on `user_id`; each step is one more windowed min over
    * the same partitioning (no per-step join, no re-shuffle). The final
    * count is a partial-aggregable global count over 150-byte rows.
    *
    * Output: one row per step — (step_idx, step, users).
    */
  def funnel(ev: DataFrame, steps: Seq[String]): DataFrame =
    funnelImpl(ev, steps, None)

  /** [[funnel]] with a conversion deadline (the ClickHouse
    * `windowFunnel` semantics): step i counts only when it occurs
    * strictly after step i−1 AND within `windowMs` of the user's step-0
    * time — the "converted within 3 days" product question, which the
    * unbounded funnel overstates. Same single-shuffle plan: the deadline
    * is one more predicate inside each windowed min.
    *
    * Note the bound is against the FIRST qualifying step-0 event; a
    * later step-0 occurrence does not re-open the window (first-arrival
    * attribution, matching the unbounded funnel's t0).
    */
  def funnelWithin(ev: DataFrame, steps: Seq[String],
                   windowMs: Long): DataFrame = {
    require(windowMs > 0, s"windowMs must be > 0, got $windowMs")
    funnelImpl(ev, steps, Some(windowMs))
  }

  private def funnelImpl(ev: DataFrame, steps: Seq[String],
                         windowMs: Option[Long]): DataFrame = {
    require(steps.nonEmpty)
    val w = Window.partitionBy("user_id")
    val base = ev.select("user_id", "event_type", "ts_ms")
    val withTimes = steps.zipWithIndex.foldLeft(base) {
      case (df, (step, 0)) =>
        df.withColumn("t0",
          min(when(col("event_type") === step, col("ts_ms"))).over(w))
      case (df, (step, i)) =>
        val inOrder = col("event_type") === step &&
          col("ts_ms") > col(s"t${i - 1}")
        val qualifies = windowMs.fold(inOrder)(ms =>
          inOrder && col("ts_ms") <= col("t0") + ms)
        df.withColumn(s"t$i",
          min(when(qualifies, col("ts_ms"))).over(w))
    }
    val aggs = steps.indices.map(i =>
      count_distinct(when(col(s"t$i").isNotNull, col("user_id")))
        .as(s"u$i"))
    val counts = withTimes.groupBy().agg(aggs.head, aggs.tail: _*)
    val stacked = steps.zipWithIndex.map { case (step, i) =>
      struct(lit(i.toLong).as("step_idx"), lit(step).as("step"),
        col(s"u$i").as("users"))
    }
    counts.select(explode(array(stacked: _*)).as("r"))
      .select(col("r.step_idx"), col("r.step"), col("r.users"))
  }

  /** DuckDB mirror of [[funnel]]. */
  def funnelSql(steps: Seq[String]): String = funnelSqlImpl(steps, None)

  /** DuckDB mirror of [[funnelWithin]]. */
  def funnelWithinSql(steps: Seq[String], windowMs: Long): String =
    funnelSqlImpl(steps, Some(windowMs))

  private def funnelSqlImpl(steps: Seq[String],
                            windowMs: Option[Long]): String = {
    val e = """e AS (SELECT user_id, event_type,
              |          CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events)"""
      .stripMargin
    val bound = windowMs.fold("")(ms => s" AND e.ts_ms <= u.t0 + $ms")
    val stages = steps.zipWithIndex.map {
      case (step, 0) =>
        s"""u0 AS (SELECT user_id,
           |    MIN(CASE WHEN event_type = '$step' THEN ts_ms END) AS t0
           |  FROM e GROUP BY user_id)""".stripMargin
      case (step, i) =>
        val prev = (0 until i).map(j => s"t$j").mkString(", ")
        s"""u$i AS (SELECT u.user_id, $prev,
           |    MIN(CASE WHEN e.event_type = '$step' AND e.ts_ms > u.t${i - 1}$bound
           |             THEN e.ts_ms END) AS t$i
           |  FROM u${i - 1} u JOIN e USING (user_id) GROUP BY ALL)"""
          .stripMargin
    }
    val last = s"u${steps.size - 1}"
    val rows = steps.zipWithIndex.map { case (step, i) =>
      s"SELECT CAST($i AS BIGINT) AS step_idx, '$step' AS step, " +
        s"COUNT(t$i) AS users FROM $last"
    }.mkString("\n", "\nUNION ALL\n", "")
    (Seq(e) ++ stages).mkString("WITH ", ",\n", "") + rows +
      "\nORDER BY step_idx"
  }

  /** Top event-type paths: each user's first `n` events (time order)
    * joined with '>' into a path string; emit the `k` most common paths
    * over users with at least `n` events. The Markov-ish "how do users
    * start" view product analytics builds from raw event logs.
    *
    * One shuffle on `user_id` for the ranking window; the per-user
    * collect groups on the same key (no second exchange); the final
    * path count is a partial-aggregated shuffle of ≤ one row per user,
    * topped by TakeOrderedAndProject.
    */
  def topPaths(ev: DataFrame, n: Int, k: Int): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(byTime: _*)
    ev.select(col("user_id"), col("event_type"), col("ts_ms"),
        col("event_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("user_id")))
      .where(col("rn") <= n && col("cnt") >= n)
      .groupBy("user_id")
      .agg(concat_ws(">", transform(
        sort_array(collect_list(struct(col("rn"), col("event_type")))),
        s => s.getField("event_type"))).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(k)
  }

  /** Cohort retention: users are cohorted by the bucket of their FIRST
    * event (`floor(min ts / bucketMs)`); each (cohort, bucket-offset)
    * cell counts the cohort's users active that many buckets later — the
    * classic retention triangle, weekly at `bucketMs` = 7 days.
    *
    * One shuffle on `user_id` for the first-event window, then a
    * partial-aggregated shuffle on the (cohort, offset) pair whose
    * cardinality is O(buckets²) regardless of corpus size. The
    * distinct-user count inside each cell shuffles (cohort, offset,
    * user) triples — already deduplicated map-side.
    *
    * Output: (cohort, bucket_offset, active_users).
    */
  def retention(ev: DataFrame, bucketMs: Long): DataFrame = {
    val w = Window.partitionBy("user_id")
    ev.withColumn("cohort",
        floor(min(col("ts_ms")).over(w) / bucketMs).cast("long"))
      .withColumn("bucket_offset",
        floor(col("ts_ms") / bucketMs).cast("long") - col("cohort"))
      .groupBy("cohort", "bucket_offset")
      .agg(count_distinct(col("user_id")).as("active_users"))
  }

  /** Rolling active users — the DAU/WAU board: per calendar day (bucket
    * of `dayMs`), the distinct users active that day and the distinct
    * users active in the trailing `windowDays` days. The trailing
    * distinct cannot ride a window frame (distinct-over-range isn't a
    * windowable aggregate), so each (user, day) activity row EXPLODES
    * into the `windowDays` target days it covers — shuffle volume
    * activity × windowDays, with map-side distinct on (day, user) — and
    * a semi-join against the observed-day set drops phantom tail days.
    *
    * Day bucketing is exact integer division (`DIV`), not a double
    * quotient. Output: (day, dau, wau).
    */
  def activeUsers(ev: DataFrame, dayMs: Long, windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    // the distinct (user, day) shell feeds THREE consumers (day spine,
    // DAU count, WAU coverage explode) — unpinned, the event scan +
    // distinct shuffle executed three times in one action (r20,
    // optimization guide §7.2 duplicated subtrees). Pinned transient,
    // released per query by releaseTransient.
    val a = graft.core.Caches.deferRelease(
      ev.select(col("user_id"),
        expr(s"ts_ms DIV $dayMs").as("day")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val days = a.select("day").distinct()
    // `a` is distinct on (user_id, day), so the per-day user count needs
    // no second distinct pass — a plain count over it skips
    // count_distinct's Expand + re-shuffle. count(user_id), not
    // count(1): COUNT(DISTINCT user_id) ignores NULL users, and the
    // null-skipping count keeps that exact semantics on the off chance
    // a source ever ships a NULL user_id (r20 advice).
    val dau = a.groupBy("day").agg(count(col("user_id")).as("dau"))
    val cov = a.select(col("user_id"),
      explode(sequence(col("day"),
        col("day") + (windowDays - 1))).as("day"))
    val wau = cov.join(days, Seq("day"), "left_semi")
      .groupBy("day").agg(count_distinct(col("user_id")).as("wau"))
    dau.join(wau, Seq("day"))
  }

  /** DuckDB mirror of [[activeUsers]]. */
  def activeUsersSql(dayMs: Long, windowDays: Int): String =
    s"""WITH e AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
       |           FROM events),
       |a AS (SELECT DISTINCT user_id, ts_ms // $dayMs AS day FROM e),
       |days AS (SELECT DISTINCT day FROM a),
       |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau
       |        FROM a GROUP BY 1),
       |cov AS (SELECT a.user_id, a.day + o.i AS day
       |        FROM a CROSS JOIN
       |          (SELECT unnest(range(0, $windowDays)) AS i) o),
       |wau AS (SELECT c.day, COUNT(DISTINCT c.user_id) AS wau
       |        FROM cov c SEMI JOIN days d USING (day) GROUP BY 1)
       |SELECT day, dau.dau, wau.wau
       |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin

  /** DuckDB mirror of [[retention]]. */
  def retentionSql(bucketMs: Long): String =
    s"""WITH e AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
       |           FROM events),
       |c AS (SELECT user_id, ts_ms,
       |          CAST(FLOOR(MIN(ts_ms) OVER (PARTITION BY user_id)
       |               / $bucketMs) AS BIGINT) AS cohort
       |      FROM e)
       |SELECT cohort,
       |       CAST(FLOOR(ts_ms / $bucketMs) AS BIGINT) - cohort
       |         AS bucket_offset,
       |       COUNT(DISTINCT user_id) AS active_users
       |FROM c GROUP BY 1, 2
       |ORDER BY cohort, bucket_offset""".stripMargin

  /** DuckDB mirror of [[topPaths]]. */
  def topPathsSql(n: Int, k: Int): String =
    s"""WITH e AS (SELECT event_id, user_id, event_type,
       |               CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events),
       |r AS (SELECT user_id, event_type,
       |          row_number() OVER (PARTITION BY user_id
       |                             ORDER BY ts_ms, event_id) AS rn,
       |          COUNT(*) OVER (PARTITION BY user_id) AS cnt
       |      FROM e),
       |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
       |      FROM r WHERE rn <= $n AND cnt >= $n GROUP BY user_id)
       |SELECT path, COUNT(*) AS n_users FROM p GROUP BY path
       |ORDER BY n_users DESC, path ASC LIMIT $k""".stripMargin

  /** the fixed segment rule over (recency_days, frequency) — shared by
    * the batch board and the online form so the labels cannot drift
    */
  def rfmSegment: org.apache.spark.sql.Column =
    when(col("recency_days") <= 2 && col("frequency") >= 15, "champion")
      .when(col("recency_days") <= 2, "active")
      .when(col("recency_days") <= 6, "warm")
      .otherwise("dormant")

  /** RFM customer segmentation — the classic recency/frequency/monetary
    * board over purchase events: per-user days-since-last-purchase
    * (integer-div against the corpus frontier, broadcast as a one-row
    * scalar — "now" must be data-derived or replays drift), purchase
    * count, decimal-exact spend, and a rule-based segment label (fixed
    * thresholds, not quantiles — quantile cuts would make every label a
    * global sort; the CCNet-style cut-table pattern covers that need
    * elsewhere). One shuffle on user_id; the board is user-cardinality.
    *
    * Output: (user_id, recency_days, frequency, monetary, segment).
    */
  def rfm(ev: DataFrame): DataFrame = {
    val p = ev.where(col("event_type") === "purchase")
    val mx = p.agg(max(col("ts_ms")).as("now_ms"))
    p.groupBy(col("user_id"))
      .agg(max(col("ts_ms")).as("last_ms"), count(lit(1)).as("frequency"),
        Exact.dsum(col("value")).as("monetary"))
      .crossJoin(broadcast(mx))
      .withColumn("recency_days",
        expr("(now_ms - last_ms) div 86400000"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"), rfmSegment.as("segment"))
  }

  /** The ONLINE RFM board over an already-purchase-filtered stream of
    * (ts_ms, user_id, value): complete-mode per-user moments (state
    * bounded by user cardinality), recency against a FROZEN frontier
    * scalar (batch-derived — a live stream cannot join its own global
    * max after aggregating, and a wall clock would make replays
    * nondeterministic). Final board ≡ [[rfm]] when the frontier matches
    * the replay's, so the batch SQL is the oracle verbatim.
    */
  def rfmOnline(purchases: DataFrame, nowMs: Long): DataFrame =
    purchases.groupBy(col("user_id"))
      .agg(max(col("ts_ms")).as("last_ms"), count(lit(1)).as("frequency"),
        Exact.dsum(col("value")).as("monetary"))
      .withColumn("recency_days",
        expr(s"(${nowMs}L - last_ms) div 86400000"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"), rfmSegment.as("segment"))

  /** DuckDB mirror of [[rfm]]. */
  val rfmSql: String =
    s"""WITH p AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
       |               value
       |           FROM events WHERE event_type = 'purchase'),
       |mx AS (SELECT MAX(ts_ms) AS now_ms FROM p),
       |g AS (SELECT user_id, MAX(ts_ms) AS last_ms,
       |          COUNT(*) AS frequency,
       |          ${Exact.dsumSql("value")} AS monetary
       |      FROM p GROUP BY 1),
       |r AS (SELECT user_id, (now_ms - last_ms) // 86400000
       |            AS recency_days,
       |          frequency, monetary
       |      FROM g CROSS JOIN mx)
       |SELECT user_id, recency_days, frequency, monetary,
       |       CASE WHEN recency_days <= 2 AND frequency >= 15
       |              THEN 'champion'
       |            WHEN recency_days <= 2 THEN 'active'
       |            WHEN recency_days <= 6 THEN 'warm'
       |            ELSE 'dormant' END AS segment
       |FROM r ORDER BY user_id""".stripMargin

  /** Last-touch attribution: each `convType` event attributed to the
    * same user's most recent `touchType` event at-or-before it (touch
    * before conversion at equal ts — the kind ordering), within
    * `windowMs`; stale or absent touches yield NULLs. ONE window sweep
    * over the union ordering (ts_ms, kind, event_id) — the as-of-join
    * sweep shape: the carried last-touch is a null-skipping MAX of a
    * (ts, id) pair, so no self-join, no second shuffle; the window cap
    * nulls after the sweep at unchanged plan cost (the asof_tolerance
    * pattern).
    *
    * Output: (user_id, conv_id, conv_ts, touch_id, gap_ms).
    */
  def attribution(ev: DataFrame, touchType: String, convType: String,
                  windowMs: Long): DataFrame = {
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tagged = ev
      .where(col("event_type").isin(touchType, convType))
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        when(col("event_type") === touchType, 0).otherwise(1).as("kind"))
    val lastTouch = max(when(col("kind") === 0,
      struct(col("ts_ms"), col("event_id")))).over(w)
    val fresh = col("t").isNotNull &&
      col("ts_ms") - col("t.ts_ms") <= windowMs
    tagged.withColumn("t", lastTouch)
      .where(col("kind") === 1)
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("ts_ms").as("conv_ts"),
        when(fresh, col("t.event_id")).as("touch_id"),
        when(fresh, col("ts_ms") - col("t.ts_ms")).as("gap_ms"))
  }

  /** DuckDB mirror of [[attribution]] (the carried pair rides a LIST —
    * lexicographic MAX with null skip, same as Spark's struct MAX).
    */
  def attributionSql(touchType: String, convType: String,
                     windowMs: Long): String =
    s"""WITH e AS (SELECT event_id, user_id, event_type,
       |               CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events
       |           WHERE event_type IN ('$touchType', '$convType')),
       |g AS (SELECT user_id, event_id, ts_ms,
       |          CASE WHEN event_type = '$touchType' THEN 0 ELSE 1 END
       |            AS kind
       |      FROM e),
       |sw AS (SELECT user_id, event_id, ts_ms, kind,
       |          MAX(CASE WHEN kind = 0 THEN [ts_ms, event_id] END)
       |            OVER (PARTITION BY user_id
       |                  ORDER BY ts_ms, kind, event_id
       |                  ROWS UNBOUNDED PRECEDING) AS t
       |       FROM g)
       |SELECT user_id, event_id AS conv_id, ts_ms AS conv_ts,
       |       CASE WHEN t IS NOT NULL AND ts_ms - t[1] <= $windowMs
       |            THEN t[2] END AS touch_id,
       |       CASE WHEN t IS NOT NULL AND ts_ms - t[1] <= $windowMs
       |            THEN ts_ms - t[1] END AS gap_ms
       |FROM sw WHERE kind = 1
       |ORDER BY user_id, conv_id""".stripMargin
}
