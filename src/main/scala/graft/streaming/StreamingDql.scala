package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.dql.{Ast, Parser, Resolver, Unparse}
import graft.dql.Ast.{MNum, MStr, NLit, NPos, NTag}
import graft.dql.Resolver._
import graft.ops.{Aggrs, Trans}

/** DQL on Structured Streaming: the SAME query text the batch engine runs
  * (graft.dql.Compiler) compiled against an unbounded event stream —
  * tumbling DQL aggregations become watermarked streaming window
  * aggregations, transforms become projections on the aggregated stream.
  *
  * This is a capability the reference fundamentally lacks (SURVEY §2.10:
  * queries are one-shot pulls; no late-data story): here the identical
  * `avg('purchase'.* BUCKET 'testdata', 1m)` text runs continuously with
  * bounded state (watermark evicts closed windows) and graceful handling
  * of late arrivals.
  *
  * Scope (the streamable subset, enforced with clear errors):
  *   - leaf scans (exact and glob paths, lookup prefixes) over the stream
  *   - tag WHERE filters and top-level GROUP BY $tag USING fun — on the
  *     stream the tags ARE event columns, so neither needs the tag index
  *   - every §2.2 windowed aggregation (they are all expression aggregates),
  *     including the six threshold `*_conf` forms: the stream never
  *     gap-fills, so each window synthesizes its {0,1} presence array from
  *     the collected slot set and mirrors the batch aggregate over it
  *   - the §2.7 fused histogram reductions (exact form; int-round + HDR
  *     out-of-range drop, identical to the batch compile)
  *   - pointwise transforms/arithmetic ABOVE an aggregation
  *   - combinators over SAME-window aggregation children, fused into one
  *     stateful operator (per-child filtered aggregates in a single
  *     windowed groupBy — not a union of streaming aggregations)
  *   - derivate ABOVE an aggregation: keyed state over closed windows
  *     (flatMapGroupsWithState), so the composed query runs append-mode.
  *     Caveat: Catalyst pushes selector filters below the watermark node,
  *     so only MATCHING events advance the watermark — an idle series'
  *     last windows stay open until its next event arrives.
  *   - multi-selector queries (the `dqe_funnel` merge): same-window
  *     aggregation selectors FUSE into one stateful operator (per-selector
  *     filtered aggregates + unpivot — see [[fusedFunnel]]; never a union
  *     of streaming aggregations, which Spark runs incorrectly)
  *   - AS / `$N` pvar / `$ns:tag` dvar naming and METADATA {…} — the
  *     batch output-naming contract, as a projection on the aggregated
  *     stream (see [[named]])
  *   - SHIFT BY everywhere a selector streams (single, raw funnel,
  *     fused funnel): windows on the original grid, labels re-stamped
  *     per selector post-aggregation
  *   - nested aggregations (resolution-coarsening chains) and
  *     aggregations over GROUP BY lookups: the child's windowed
  *     aggregation feeds the outer as a chained window-over-window
  *     (`window_time` carries the watermark; append mode throughout)
  *   - NOT streamable: derivate below an aggregation (needs the ordered
  *     per-series raw scan), nested derivate (no event time out of
  *     flatMapGroupsWithState), combinators over differently-windowed
  *     children, TOP/BOTTOM (global sorts).
  *
  * Slot collapse (the batch series model, on by default): the batch
  * engine never aggregates raw events — its leaf first collapses them to
  * one value per (series, 1-resolution slot) via the decimal-exact mean
  * (core/SeriesOps, `Exact.davg`), and every aggregation, transform,
  * GROUP BY combine and histogram operates on SLOT values. The stream
  * mirrors that with a chained first-stage streaming aggregation per
  * (metric, slot) before everything else, so a series emitting several
  * events inside one resolution tick gets the identical value batch
  * computes. The chain means ≥2 stateful operators, which Structured
  * Streaming supports in APPEND output mode only (results emit when the
  * watermark closes a window). Set `spark.graft.streaming.slotExact` to
  * false to drop the collapse stage and regain single-operator update
  * mode — exact only under at most one event per (series, resolution
  * tick). The `*_conf` forms never need the collapse: slot PRESENCE is
  * unaffected by within-slot duplicates, so they stay single-stage and
  * update-capable either way.
  *
  * The query's timeframe is ignored — a stream is "from now on"; the
  * window width comes from the aggregation argument as in batch.
  */
object StreamingDql {

  final case class Unstreamable(msg: String) extends RuntimeException(msg)

  /** keyed derivate state: the last closed window per metric; `first` marks
    * it as the still-unemitted head point awaiting its backfill difference
    */
  final case class DerivState(lastWs: Long, lastVal: Double, first: Boolean)

  /** per-metric derivate step over closed windows (sorted in-batch; across
    * batches the watermark closes windows in time order): each new window
    * emits v − prev, and the held-back head point is released alongside its
    * successor with the same value (v'(0)=v'(1)).
    *
    * State is evicted on event-time timeout once a metric has been idle
    * past `idleMs` (`spark.graft.streaming.derivate.idleTimeoutMs`) — one
    * DerivState per metric would otherwise accumulate forever on an
    * unbounded-cardinality key space. A group whose head point is still
    * held back when the timeout fires (exactly one window, then idle)
    * emits that head with a NULL value before eviction — the batch result
    * for a single-point series (no difference exists on either side) — so
    * the point is reported, not silently dropped. Trade-off, stated: a
    * series that RESUMES after the idle horizon restarts its chain
    * (head-point backfill again) instead of diffing across the gap as
    * batch would; size the horizon to the longest expected series gap, or
    * set ≤ 0 to keep state forever.
    */
  private def derivateGroup(idleMs: Long)(
      metric: String, rows: Iterator[(String, Long, Double, java.sql.Timestamp)],
      state: GroupState[DerivState]): Iterator[(String, Long, Option[Double])] = {
    if (state.hasTimedOut) {
      val pending = state.getOption.filter(_.first)
        .map(s => (metric, s.lastWs, Option.empty[Double]))
      state.remove()
      return pending.iterator
    }
    val out = Seq.newBuilder[(String, Long, Option[Double])]
    var st = state.getOption
    for ((_, ws, v, _) <- rows.toSeq.sortBy(_._2)) {
      st match {
        case None =>
          st = Some(DerivState(ws, v, first = true))
        case Some(DerivState(_, pv, isFirst)) =>
          val d = v - pv
          if (isFirst) out += ((metric, st.get.lastWs, Some(d)))
          out += ((metric, ws, Some(d)))
          st = Some(DerivState(ws, v, first = false))
      }
    }
    st.foreach { s =>
      state.update(s)
      if (idleMs > 0)
        // the timeout must sit past the current watermark or Spark rejects
        // it; a very-late group's horizon degrades to watermark + 1 ms
        state.setTimeoutTimestamp(
          math.max(s.lastWs + idleMs, state.getCurrentWatermarkMs() + 1))
    }
    out.result().iterator
  }

  /** @param stream streaming frame in the shape the `store` binding
    *               declares (default [[TestdataStreamStore]]: ts,
    *               event_type, user_id, value — series key
    *               `event_type.user_id` as in the batch series model)
    * @param dql    DQL text (same grammar as the batch compiler)
    * @param watermark late-data bound, e.g. "10 seconds"
    * @param store  stream-side storage seam (event-time/value columns,
    *               series-key layout, tag map) — the streaming mirror of
    *               the batch SeriesStore
    * @return streaming frame (name, metric, ws, value[, metadata]) —
    *         ws = window start ms; `name`/`metadata` follow the batch
    *         naming contract (default name = unparsed selector text)
    * @param slotExact explicit override of the slot-exact mode; None
    *                  reads `spark.graft.streaming.slotExact` (default
    *                  true). Harness callers thread Some(…) so the
    *                  choice never rides a mutable session conf.
    * @param topBoard  explicit opt-in to the complete-mode TOP/BOTTOM
    *                  leader board; None reads
    *                  `spark.graft.streaming.top.board` (default
    *                  false). Threaded for the same reason: a session
    *                  conf toggled around a compile leaks into any
    *                  concurrent compilation on the shared session,
    *                  flipping its typed TOP reject into a board
    *                  compilation (r16 advisory).
    */
  def compile(stream: DataFrame, dql: String, watermark: String,
              store: StreamStore = TestdataStreamStore,
              slotExact: Option[Boolean] = None,
              topBoard: Option[Boolean] = None): DataFrame = {
    // opt-ins resolve ONCE here (param wins, conf is the fallback) into
    // an immutable per-compile context — no helper below reads session
    // state, so a concurrent conf flip cannot change this compilation
    implicit val opts: CompileOpts = CompileOpts(
      slotExact = slotExact.getOrElse(slotExactConf(stream)),
      topBoard = topBoard.getOrElse(
        stream.sparkSession.conf
          .getOption("spark.graft.streaming.top.board").contains("true")))
    val q = Parser.parse(dql)
    val resMs = resolutionMs(stream)
    // normalize the bound stream to the compiler's internal frame:
    // (ts, value, <carried tag/key cols>, metric). Everything downstream
    // reads only these, so the physical schema lives entirely in `store`.
    val carried = (store.keyCols ++ store.tagColumns).distinct
    val base = stream
      .select(col(store.tsCol).as("ts") +:
        col(store.valueCol).cast("double").as("value") +:
        carried.map(col): _*)
      .withWatermark("ts", watermark)
      .withColumn("metric",
        concat_ws(".", store.keyCols.map(c => col(c).cast("string")): _*))
    val withMeta = q.selectors.exists(_.metadata.nonEmpty)
    val cols = Seq("name", "metric", "ws", "value") ++
      (if (withMeta) Seq("metadata") else Nil)
    val out =
      if (q.limit.nonEmpty) boardLimit(q, base, withMeta, store, resMs)
      else if (q.selectors.length == 1) {
        val sel = q.selectors.head
        val plan = Resolver.resolve(sel.expr, q.aliases, _ => resMs)
        // internal plumbing: every aggregated branch also emits `wt`, the
        // window's event-time carrier (window_time keeps the watermark
        // metadata, which stateful consumers above the aggregation — the
        // derivate timeout — must see); it is not part of the public
        // contract
        val agg = aggregated(plan, base, store)
        // SHIFT BY d: the batch form fetches [start−d, end−d] and
        // re-stamps ts_ms += d AFTER computing windows on the original
        // grid (Compiler.run). The stream mirrors that exactly with a
        // row-local ws re-stamp post-aggregation — shifting EVENT time
        // before the window would move the window grid itself whenever d
        // is not a multiple of the window, which the batch never does.
        val shiftMs = sel.shift.map(_.ms).getOrElse(0L)
        val shifted =
          if (shiftMs == 0L) agg
          else agg.withColumn("ws", col("ws") + lit(shiftMs))
        named(shifted, sel, withMeta, store)
      } else fusedFunnel(q, base, withMeta, store)
    out.select(cols.head, cols.tail: _*)
  }

  /** TOP/BOTTOM as a COMPLETE-MODE leader board (r15 verdict #7): batch
    * TOP scores every series over its whole range and keeps the n best
    * STREAMS — a global sort, inexpressible in append mode. The streaming
    * contract is the closest bounded-state shape: ONE score row per
    * series (running algebraic aggregate, state = series cardinality,
    * never history), sorted and limited each trigger — the live leader
    * board a dashboard actually wants from a stream. The sink must run
    * in `complete` output mode (sort/limit on a streaming frame are only
    * legal there), so the path is OPT-IN via the `topBoard` compile
    * parameter (`spark.graft.streaming.top.board=true` is the conf
    * fallback for SQL-level callers); without it the historical
    * typed reject stands, and every narrowing below is a typed reject
    * too — never a silent semantics change:
    *
    *   - scores must be algebraic (sum/avg/min/max/variance/stddev):
    *     median/percentile would buffer each series' full history in the
    *     global aggregate's state;
    *   - the selector must be a raw leaf, and slot-exact mode must be
    *     off: either would chain a second stateful aggregation under the
    *     global one, which Spark runs correctly only in append mode. The
    *     board therefore scores RAW ARRIVALS (the documented
    *     slotExact=false semantics, same as the update-mode aggregates).
    *
    * Output keeps the contract columns: `value` is the running score,
    * `ws` the slot-floored latest event time per series (the board's
    * as-of stamp).
    */
  private def boardLimit(q: Ast.Query, base: DataFrame, withMeta: Boolean,
                         store: StreamStore, resMs: Long)
                        (implicit opts: CompileOpts): DataFrame = {
    if (!opts.topBoard)
      throw Unstreamable(
        "TOP/BOTTOM is a global sort — not streamable in append mode; " +
          "pass topBoard=Some(true) to compile (or set " +
          "spark.graft.streaming.top.board=true) for the complete-mode " +
          "leader board (one score row per series; run the sink with " +
          "outputMode(\"complete\"))")
    val lim = q.limit.get
    val algebraic =
      Set("sum", "avg", "min", "max", "variance", "stddev")
    if (!algebraic(lim.fun))
      throw Unstreamable(
        s"TOP/BOTTOM board supports the parameterless algebraic scores " +
          s"${algebraic.toSeq.sorted.mkString("/")}; '${lim.fun}' is " +
          "outside it (median/percentile would buffer each series' " +
          "history; threshold scores take no argument in a BY clause)")
    if (q.selectors.length != 1)
      throw Unstreamable("TOP/BOTTOM board takes a single selector")
    val sel = q.selectors.head
    if (sel.shift.nonEmpty)
      throw Unstreamable("SHIFT BY under a TOP/BOTTOM board is not " +
        "supported — shift the batch query instead")
    val plan = Resolver.resolve(sel.expr, q.aliases, _ => resMs)
    if (!isRawLeaf(plan))
      throw Unstreamable(
        "TOP/BOTTOM board scores raw series arrivals; an aggregated " +
          "selector under the board would chain two stateful " +
          "aggregations (append-mode-only in Spark) — score the leaf " +
          "or run the batch path")
    val leafed = leaf(plan, base, store)
    if (leafed.columns.contains("sw"))
      throw Unstreamable(
        "slot-exact scoring would chain the slot collapse under the " +
          "board's global aggregate — complete mode runs one stateful " +
          "aggregation; set spark.graft.streaming.slotExact=false to " +
          "score raw arrivals")
    val score = Aggrs.spark(lim.fun, None)(col("value"), orderTs(leafed))
    val scored = leafed.groupBy(col("metric"))
      .agg(score.as("value"),
        expr(s"(max(unix_millis(ts)) div $resMs) * $resMs").as("ws"))
    val namedB = named(scored, sel, withMeta, store)
    val ordered =
      if (lim.top)
        namedB.orderBy(col("value").desc, col("name"), col("metric"))
      else namedB.orderBy(col("value").asc, col("name"), col("metric"))
    ordered.limit(lim.n)
  }

  /** ALL-RAW multi-selector funnel: every selector is a plain
    * scan/lookup (± pointwise transforms), so the funnel is a union of
    * slot-row passthroughs — which must NOT compile as a union of
    * streaming branches (the multi-stateful union Spark runs
    * incorrectly). Instead the [[graft.streaming.EventStream.activeBoard]]
    * tag-explode shape: ONE shared slot collapse over the union of the
    * selectors' series, then each slot row explodes row-locally into one
    * copy per matching selector, carrying the selector id; naming and
    * metadata resolve per row by selector id. Per-selector SHIFT BY is a
    * row-local ws re-stamp here (the single-selector rule), so shifted
    * funnels of raw selectors stream too.
    */
  private def fusedRawFunnel(q: Ast.Query, base: DataFrame,
                             withMeta: Boolean, store: StreamStore,
                             plans: Seq[RExpr])
                            (implicit opts: CompileOpts): DataFrame = {
    val res = plans.map(_.resMs).distinct
    if (res.length != 1)
      throw Unstreamable("resolution_conflict: multi-selector streams " +
        s"must share one resolution, got ${res.mkString(", ")} ms")
    val condVals = plans.map(leafCondValue(_, store))
    val anyCond = condVals.map(_._1).reduce(_ || _)
    val collapsed = slotCollapse(base.where(anyCond), res.head, store)
    val branches = condVals.zipWithIndex.map { case ((cond, v), i) =>
      when(cond, struct(lit(i).as("sid"), v.cast("double").as("v")))
    }
    val wsCol =
      if (collapsed.columns.contains("sw")) unix_millis(col("sw.start"))
      else unix_millis(col("ts"))
    val shifts = q.selectors.map(_.shift.map(_.ms).getOrElse(0L))
    def bySid[T](vals: Seq[Column]): Column =
      vals.zipWithIndex.foldLeft(lit(null).cast("string")) {
        case (acc, (v, i)) => when(col("sid") === i, v).otherwise(acc)
      }
    val shiftCol = shifts.zipWithIndex
      .foldLeft(lit(0L)) { case (acc, (ms, i)) =>
        when(col("sid") === i, lit(ms)).otherwise(acc)
      }
    val ex = collapsed
      .withColumn("c",
        explode(filter(array(branches: _*), b => b.isNotNull)))
      .withColumn("sid", col("c.sid"))
      .withColumn("ws", wsCol + shiftCol)
      .withColumn("value", col("c.v"))
    val nameCol = bySid(q.selectors.map(nameExpr(_, store)))
    if (!withMeta)
      ex.select(nameCol.as("name"), col("metric"), col("ws"), col("value"))
    else
      ex.select(nameCol.as("name"), col("metric"), col("ws"), col("value"),
        bySid(q.selectors.map(s => lit(metaJson(s)))).as("metadata"))
  }

  /** The batch multi-selector merge (`dqe_funnel`) FUSED into one stateful
    * operator: each selector becomes a filtered aggregate inside a single
    * (window, metric) groupBy, then an unpivot (`stack`) restores one row
    * per selector with its own naming. NOT a union of per-selector
    * streaming aggregations — a union of chained stateful branches is the
    * one multi-stateful shape Spark does not run correctly (one branch's
    * state silently starves; observed on 4.1: union of two slot-collapse
    * chains emits only the first branch), and the fused form is cheaper
    * anyway: one state row per (window, metric) for ALL selectors.
    *
    * Fusable selector shapes: pointwise transforms over any §2.2
    * aggregation — including the six threshold `*_conf` forms — every
    * selector sharing one window and one resolution (the batch funnel
    * itself requires equal resolutions). Each selector's rows are
    * restricted to the series matching ITS leaf via a per-selector
    * presence aggregate — a window where the series has points but none
    * qualify for a threshold aggregate still emits its batch NULL, while a
    * series the selector never matched emits nothing, exactly the batch
    * union's row set.
    *
    * Conf selectors fuse because presence is COLLAPSE-INVARIANT: a
    * `*_conf` selector's per-window present-slot set is the same whether
    * collected from raw events or from the collapsed slot rows (each
    * present slot appears at least once either way), so its
    * `collect_set(slot id)` rides in the same fused groupBy the value
    * selectors use, and the {0,1} presence array + threshold mirror
    * (confAggExpr) become post-aggregation projections on the set column.
    * The fused mixed plan inherits the value selectors' chained
    * append-mode shape; a funnel of ONLY conf selectors skips the
    * collapse stage (update-capable), like the single-selector conf path.
    */
  private def fusedFunnel(q: Ast.Query, base: DataFrame,
                          withMeta: Boolean, store: StreamStore)
                         (implicit opts: CompileOpts): DataFrame = {
    val sels = q.selectors
    val resMs0 = resolutionMs(base)
    val plans0 = sels.map(sel => Resolver.resolve(sel.expr, q.aliases, _ => resMs0))
    if (plans0.forall(isRawLeaf))
      return fusedRawFunnel(q, base, withMeta, store, plans0)
    val plans = plans0
    // peel the pointwise transforms above each aggregation; acc ends up
    // innermost-first, so a left fold re-applies them in batch order
    def peel(p: RExpr, acc: List[(String, Option[Double])])
        : (List[(String, Option[Double])], RAggr) = p match {
      case RTrans(n, c, child) if n != "derivate" && n != "confidence" =>
        peel(child, (n, c) :: acc)
      case a: RAggr => (acc, a)
      case other => throw Unstreamable(
        "a multi-selector stream fuses same-window aggregations into one " +
          s"stateful operator; selector shape is not fusable: $other — " +
          "run separate streams for mixed shapes")
    }
    val peeled = plans.map(peel(_, Nil))
    val aggrs = peeled.map(_._2)
    val ws = aggrs.map(_.windowMs).distinct
    if (ws.length != 1)
      throw Unstreamable("resolution_conflict: multi-selector streams " +
        s"must share one window, got ${ws.mkString(", ")} ms")
    val res = aggrs.map(_.child.resMs).distinct
    if (res.length != 1)
      throw Unstreamable("resolution_conflict: multi-selector streams " +
        s"must share one resolution, got ${res.mkString(", ")} ms")
    val isConf = aggrs.map(_.name.endsWith("_conf"))
    // conf selectors share the single-selector path's window/state checks
    aggrs.zip(isConf).collectFirst { case (a, true) => a }
      .foreach(a => confSlots(base, a.name, ws.head, res.head))
    val condVals = aggrs.map(a => leafCondValue(a.child, store))
    val anyCond = condVals.map(_._1).reduce(_ || _)
    // an all-conf funnel needs no slot collapse (presence is
    // collapse-invariant), keeping the single-stateful update-capable
    // shape of the single-selector conf path
    val collapsed =
      if (isConf.forall(identity)) base.where(anyCond)
      else slotCollapse(base.where(anyCond), res.head, store)
    // present-slot id on whichever frame the fused groupBy reads: the
    // collapse keeps the slot window struct `sw` (slot start IS the id
    // base); without it the raw event time addresses the slot
    val sidSql =
      if (collapsed.columns.contains("sw"))
        s"unix_millis(sw.start) div ${res.head}"
      else s"unix_millis(ts) div ${res.head}"
    val aggCols = aggrs.zip(condVals).zipWithIndex.flatMap {
      case ((a, (cond, _)), i) if a.name.endsWith("_conf") =>
        // conf selector: collect ITS present-slot set (when() nulls out
        // non-matching rows; collect_set drops them) — the value itself is
        // a post-aggregation projection over the set (see below)
        Seq(collect_set(when(cond, expr(sidSql))).as(s"set$i"),
          (count(when(cond, 1)) > 0).as(s"p$i"))
      case ((a, (cond, v)), i) =>
        Seq(
          Aggrs.spark(a.name, a.const)(when(cond, v),
            when(cond, orderTs(collapsed))).as(s"c$i"),
          (count(when(cond, 1)) > 0).as(s"p$i"))
    }
    val piv0 = collapsed
      .groupBy(timeWindow(collapsed, ws.head, res.head).as("w"), col("metric"))
      .agg(aggCols.head, aggCols.tail: _*)
    // conf values: synthesize each selector's {0,1} presence array from
    // its slot set and run the batch aggregate mirror — stateless
    // projections on the aggregated stream
    val piv = aggrs.zipWithIndex.foldLeft(piv0) {
      case (df, (a, i)) if a.name.endsWith("_conf") =>
        val slots = ws.head / res.head
        val ca = s"transform(sequence(0, ${slots - 1}), j -> " +
          s"IF(array_contains(set$i, unix_millis(w.start) div ${res.head} + j), " +
          s"1.0D, 0.0D))"
        df.withColumn(s"c$i",
          confAggExpr(a.name.stripSuffix("_conf"), a.const, slots, ca))
      case (df, _) => df
    }
    // per-selector transforms above the aggregation are projections on the
    // selector's own column
    val proj = peeled.zipWithIndex.foldLeft(piv) {
      case (df, ((trans, _), i)) =>
        df.withColumn(s"v$i",
          trans.foldLeft(col(s"c$i")) { case (c, (n, k)) =>
            Trans.spark(n, k)(c) })
    }
    // the batch union coerces mixed value types (a count's BIGINT beside
    // an avg's DOUBLE) to the common type; stack() requires it explicitly
    val vTypes = sels.indices.map(i => proj.schema(s"v$i").dataType).distinct
    val vExpr: Int => String =
      if (vTypes.length == 1) i => s"v$i"
      else i => s"CAST(v$i AS DOUBLE)"
    val stacked = proj.selectExpr("w", "metric",
      s"stack(${sels.length}, " +
        sels.indices.map(i => s"$i, ${vExpr(i)}, p$i").mkString(", ") +
        ") as (sidx, value, present)")
      .where(col("present"))
    def perSel(f: Ast.Selector => Column): Column =
      coalesce(sels.zipWithIndex.map { case (sel, i) =>
        when(col("sidx") === i, f(sel)) }: _*)
    // per-selector SHIFT BY: windows computed on the ORIGINAL grid, each
    // selector's labels re-stamped by ITS shift after the unpivot — the
    // single-selector rule ([[compile]]) applied per sidx, the same form
    // the all-raw funnel already ships
    val shiftCol = sels.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (sel, i)) =>
        when(col("sidx") === i,
          lit(sel.shift.map(_.ms).getOrElse(0L))).otherwise(acc)
    }
    val outCols =
      Seq(perSel(nameExpr(_, store)).as("name"), col("metric"),
        (unix_millis(col("w.start")) + shiftCol).as("ws"), col("value")) ++
      (if (withMeta) Seq(perSel(sel => lit(metaJson(sel))).as("metadata"))
       else Nil)
    stacked.select(outCols: _*)
  }

  /** The batch naming contract (Compiler.named, reference
    * `src/dql_flatten.erl:19`) on the stream: default output name is the
    * unparsed selector text; `AS` parts substitute literals, `$N` the N-th
    * metric path segment, `$ns:tag` the tag value — which on the stream is
    * read back out of the series key at the segment position the store's
    * tag map binds it to (naming runs post-aggregation, where only the
    * metric key survives); a tag not backed by a key segment names as
    * empty, the batch missing-tag behavior.
    * METADATA {…} attaches the same constant JSON rendering batch emits.
    */
  private def nameExpr(sel: Ast.Selector, store: StreamStore): Column = {
    def seg(n: Int) = element_at(split(col("metric"), "\\."), n)
    sel.name match {
      case None => lit(Unparse.expr(sel.expr))
      case Some(parts) =>
        concat_ws(".", parts.map {
          case NLit(s) => lit(s): Column
          case NPos(n) => seg(n)
          case NTag(ns, key) =>
            store.tagCol(ns, key) match {
              // unmapped tag: the batch missing-tag semantics (empty
              // dvar segment), same as a tag absent from the series
              case None => lit("")
              case Some(c) =>
                val i = store.keyCols.indexOf(c)
                // mapped to a NON-key column: the value exists on the raw
                // stream but only series-key segments survive the
                // windowed aggregation — refuse rather than silently
                // emit an empty name where batch substitutes the value
                if (i < 0) throw Unstreamable(
                  s"dvar $$$ns:$key maps to non-key column '$c' — only " +
                    "series-key segments survive the windowed " +
                    "aggregation; name by a key tag or include the " +
                    "column in the store's keyCols")
                seg(i + 1)
            }
        }: _*)
    }
  }

  private def metaJson(sel: Ast.Selector): String =
    sel.metadata.map { case (k, v) =>
      val vs = v match {
        case MStr(s)        => "\"" + s + "\""
        case MNum(n, true)  => n.toLong.toString
        case MNum(n, false) => n.toString
      }
      "\"" + k + "\": " + vs
    }.mkString("{", ", ", "}")

  private def named(df: DataFrame, sel: Ast.Selector,
                    withMeta: Boolean, store: StreamStore): DataFrame = {
    val base = df.withColumn("name", nameExpr(sel, store))
    if (!withMeta) base
    else base.withColumn("metadata", lit(metaJson(sel)))
  }

  /** The stream's native slot resolution: every incoming series collapses
    * to one value per this many milliseconds (the batch model's per-bucket
    * resolution; the testdata bucket is 1 s, the default). Streams at a
    * different native cadence set `spark.graft.streaming.resolutionMs`;
    * aggregation windows must be a multiple of it in slot-exact mode
    * ([[timeWindow]]'s straddle guard).
    */
  private def resolutionMs(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.streaming.resolutionMs")
      .map { raw =>
        val v =
          try raw.trim.toLong
          catch { case _: NumberFormatException => throw Unstreamable(
            "spark.graft.streaming.resolutionMs must be a positive " +
              s"millisecond count, got '$raw'") }
        if (v <= 0) throw Unstreamable(
          "spark.graft.streaming.resolutionMs must be a positive " +
            s"millisecond count, got '$raw'")
        v
      }.getOrElse(1000L)

  /** immutable per-compile opt-in context, resolved once at [[compile]]
    * entry (explicit params first, session conf as fallback) and
    * threaded implicitly — the compilation's behavior cannot change
    * under a concurrent session-conf flip
    */
  private[streaming] final case class CompileOpts(slotExact: Boolean,
                                                  topBoard: Boolean)

  /** true unless `spark.graft.streaming.slotExact` is set to false */
  private def slotExactConf(df: DataFrame): Boolean =
    df.sparkSession.conf
      .getOption("spark.graft.streaming.slotExact").forall { raw =>
        raw.trim.toLowerCase match {
          case "true"  => true
          case "false" => false
          case _ => throw Unstreamable(
            s"spark.graft.streaming.slotExact must be true or false, got '$raw'")
        }
      }

  /** The batch series model as a chained first-stage streaming
    * aggregation: one decimal-exact mean per (metric, resolution slot) —
    * the stream-side `SeriesOps.series` derivation. The slot's window
    * struct `sw` is KEPT (not re-derived as a timestamp): chaining a
    * second stateful aggregation is supported only in the
    * window-on-window form — `window(col("sw"), …)` on the struct — which
    * preserves the event-time/watermark lineage (SPARK-40925); deriving a
    * fresh timestamp with `window_time` trips Spark's global-watermark
    * correctness check and the query is rejected at start. The store's
    * key/tag columns ride along as group keys (functionally determined by
    * metric, a StreamStore contract) because tag predicates and GROUP BY
    * keys read them at slot level.
    */
  private def slotCollapse(df: DataFrame, resMs: Long,
                           store: StreamStore)
                          (implicit opts: CompileOpts): DataFrame =
    if (!opts.slotExact) df
    else df
      .groupBy(window(col("ts"), s"$resMs milliseconds").as("sw") +:
        col("metric") +:
        (store.keyCols ++ store.tagColumns).distinct.map(col): _*)
      .agg(graft.core.Exact.davg(col("value")).as("value"))

  /** Downstream of [[slotCollapse]] the event-time column is the slot
    * window struct `sw`; without the collapse it is the raw `ts`. The
    * window-assignment helper also guards the straddle case: a slot is
    * assigned to its containing aggregation window via `window_time` (slot
    * end − 1 µs) while batch assigns by slot START, so the two agree only
    * when the aggregation window is a multiple of the resolution (both
    * epoch-aligned ⇒ no slot straddles a window edge).
    */
  private def timeWindow(df: DataFrame, wMs: Long, resMs: Long): Column =
    if (!df.columns.contains("sw")) window(col("ts"), s"$wMs milliseconds")
    else {
      if (wMs % resMs != 0)
        throw Unstreamable(
          s"slot-exact streaming needs the $wMs ms window to be a multiple " +
            s"of the $resMs ms resolution (set " +
            "spark.graft.streaming.slotExact=false to aggregate raw events)")
      window(col("sw"), s"$wMs milliseconds")
    }

  /** in-window time-order key for the first/last aggregates: slot time
    * after the collapse (monotonic in slot order), raw event time without
    */
  private def orderTs(df: DataFrame): Column =
    if (df.columns.contains("sw")) unix_millis(window_time(col("sw")))
    else unix_millis(col("ts"))

  /** compile the plan; the result is always post-aggregation (streaming
    * needs the stateful agg to bound the unbounded input)
    */
  private def aggregated(p: RExpr, base: DataFrame,
                         store: StreamStore)
                        (implicit opts: CompileOpts): DataFrame = p match {
    case RAggr(name, c, w, child) if name.endsWith("_conf") =>
      // _conf aggregates run the base aggregate on the CONFIDENCE channel,
      // which on the dense batch spine is slot-presence: 1.0 where the
      // series has a point, 0.0 on gap-filled empties. The stream never
      // materializes a spine — instead each window collects its present
      // slot set and synthesizes the {0,1} confidence array of all
      // window/res slots, over which every base aggregate has an exact
      // array-expression mirror (same double arithmetic as Aggrs/Exact).
      // No slot collapse here: presence is unaffected by within-slot
      // duplicates (collect_set), so the single-stage shape is already
      // exact and stays update-mode-capable.
      val res = child.resMs
      val slots = confSlots(base, name, w, res)
      val leafed = base.where(leafCondValue(child, store)._1)
      val ca = s"transform(sequence(0, ${slots - 1}), i -> " +
        s"IF(array_contains(pset, unix_millis(w.start) div $res + i), " +
        s"1.0D, 0.0D))"
      leafed
        .groupBy(window(col("ts"), s"$w milliseconds").as("w"), col("metric"))
        .agg(collect_set(expr(s"unix_millis(ts) div $res")).as("pset"))
        .select(col("metric"), unix_millis(col("w.start")).as("ws"),
          confAggExpr(name.stripSuffix("_conf"), c, slots, ca).as("value"),
          window_time(col("w")).as("wt"))

    case RAggr(name, c, w, child) if !isRawLeaf(child) =>
      // NESTED aggregation — the resolution-coarsening chain (batch
      // `sum(avg(m, 1 h), 1 d)`, dql_nested_agg) and aggregations over
      // GROUP BY lookups: the child compiles to its own windowed
      // aggregation, the outer runs as a CHAINED time-window aggregation
      // over the child's closed windows (Spark's window-over-window —
      // the child's `wt` window_time column carries the watermark, so
      // the chain stays append-mode with bounded state). The resolver
      // pins outer % child == 0, so every child window [s, s+cw) lies
      // entirely inside one outer window and grouping by `wt` (end − ε)
      // reproduces the batch grid over child window STARTS exactly.
      val inner = aggregated(child, base, store)
      val hasWm = inner.queryExecution.analyzed.output.exists(a =>
        a.name == "wt" && a.metadata.contains("spark.watermarkDelayMs"))
      if (!hasWm)
        throw Unstreamable(
          "an outer aggregation needs an event-time input — a nested " +
            "derivate loses it (flatMapGroupsWithState output carries no " +
            "watermark); aggregate before the derivate or in batch")
      inner
        .groupBy(window(col("wt"), s"$w milliseconds").as("w"),
          col("metric"))
        .agg(Aggrs.spark(name, c)(col("value"), unix_millis(col("wt")))
          .as("value"))
        .select(col("metric"), unix_millis(col("w.start")).as("ws"),
          col("value"), window_time(col("w")).as("wt"))

    case RAggr(name, c, w, child) =>
      val leafed = leaf(child, base, store)
      val agg = Aggrs.spark(name, c)(col("value"), orderTs(leafed))
      leafed
        .groupBy(timeWindow(leafed, w, child.resMs).as("w"), col("metric"))
        .agg(agg.as("value"))
        .select(col("metric"), unix_millis(col("w.start")).as("ws"),
          col("value"), window_time(col("w")).as("wt"))
    case RLookup(_, path, where, gb, Some(gf), resMs) if gb.nonEmpty =>
      // GROUP BY $tag USING fun at the top level: the tags are event
      // columns on the stream, so the group is one windowed groupBy at the
      // series resolution — per-slot combination across the group's member
      // series, mirroring the batch RLookup.groupBy (per-ts_ms groupBy on
      // the tag columns). Non-commutative funs fold member values in
      // lexicographic metric order, the batch's pinned order.
      val cols = gb.map { case (ns, key) =>
        tagCol(store, ns, key).getOrElse(
          throw Unstreamable(s"unknown stream tag $ns:$key"))
      }
      val cond = path.map(pathCond(_, exact = false)).getOrElse(lit(true)) &&
        where.map(tagCond(_, store)).getOrElse(lit(true))
      val foldOps = Map(
        "diff"     -> "acc - x",
        "product"  -> "acc * x",
        "quotient" -> "CASE WHEN x = CAST(0 AS DOUBLE) THEN acc ELSE acc / x END")
      val isFold = foldOps.contains(gf)
      val aggCol = gf match {
        case "sum" => graft.core.Exact.dsum(col("value"))
        case "avg" => graft.core.Exact.davg(col("value"))
        case "min" => min(col("value"))
        case "max" => max(col("value"))
        case _ if isFold =>
          expr("transform(array_sort(collect_list(struct(metric, value)))," +
            " x -> x.value)")
        case other => throw Unstreamable(s"GROUP BY USING $other not supported")
      }
      // collapse to one value per (series, slot) FIRST — the batch RLookup
      // groupBy combines member series' SLOT values (its leaf is the
      // davg-collapsed series frame), so the cross-series combine here
      // must see the same: without the collapse a series emitting >1
      // event in one resolution tick would contribute duplicate fold
      // entries and inflate avg's divisor
      val collapsed = slotCollapse(base.where(cond), resMs, store)
      val grouped = collapsed
        .groupBy(timeWindow(collapsed, resMs, resMs).as("w") +:
          cols.zipWithIndex.map { case (c, i) => c.as(s"g$i") }: _*)
        .agg(aggCol.as(if (isFold) "vals" else "value"))
      val valued =
        if (!isFold) grouped
        else grouped.withColumn("value",
          expr(s"aggregate(slice(vals, 2, greatest(size(vals) - 1, 0)), " +
            s"element_at(vals, 1), (acc, x) -> ${foldOps(gf)})")).drop("vals")
      valued.select(
        concat_ws(".", gb.indices.map(i => col(s"g$i").cast("string")): _*)
          .as("metric"),
        unix_millis(col("w.start")).as("ws"), col("value"),
        window_time(col("w")).as("wt"))

    case RHistFn(name, pOpt, w, htv, sf, child) =>
      // the fused hist reductions are expression aggregates like §2.2, so
      // they stream: int-round, DROP out-of-range (the reference's HDR
      // recording semantics, same as the batch compile), aggregate per
      // window. `spark.graft.dql.histogram.hdr=true` routes the quantiles
      // through the same mergeable HDR sketch Aggregator the batch uses
      // (expr/HdrHistogram): its partial buffer is the streaming
      // aggregation's state — fixed-size per (window, metric), merged
      // across micro-batches like any partial aggregate — so the flag
      // means the same algorithm on both engines.
      val useHdr = base.sparkSession.conf
        .getOption("spark.graft.dql.histogram.hdr").contains("true")
      val leafed = leaf(child, base, store)
      val ints = round(col("value"), 0).cast("long")
      val inRange = leafed.where(ints >= 0L && ints <= htv)
      val agg = name match {
        case "median" if useHdr =>
          graft.expr.HdrHistogram.hdrPercentile(sf, 0.5)(ints)
        case "percentile" if useHdr =>
          graft.expr.HdrHistogram.hdrPercentile(sf, pOpt.get)(ints)
        case "mean" | "stddev" =>
          Aggrs.spark(if (name == "mean") "avg" else name, pOpt)(
            ints, orderTs(inRange))
        case _ =>
          Aggrs.spark(name, pOpt)(ints, orderTs(inRange)).cast("double")
      }
      inRange
        .groupBy(timeWindow(inRange, w, child.resMs).as("w"), col("metric"))
        .agg(agg.as("value"))
        .select(col("metric"), unix_millis(col("w.start")).as("ws"),
          col("value"), window_time(col("w")).as("wt"))

    case RTrans("derivate", _, child) =>
      // derivate ABOVE the aggregation: v'(w) = v(w) − v(prev present w)
      // per metric, first point backfilled with the second difference
      // (v'(0)=v'(1), the batch Trans.derivate semantics). The previous
      // window's value is carried in keyed state (flatMapGroupsWithState);
      // the child aggregation must emit CLOSED windows for the diffs to be
      // final, so the composed query runs in append mode — Spark's
      // multi-stateful-operator support (watermark-propagated) handles the
      // agg → stateful chain. The first window is held back until its
      // successor closes, exactly the batch backfill.
      val enc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong,
        Encoders.scalaDouble, Encoders.TIMESTAMP)
      val outEnc = Encoders.product[(String, Long, Option[Double])]
      // idle-eviction horizon for the per-metric state (see derivateGroup);
      // default 30 days, ≤ 0 keeps state forever
      val idleMs = base.sparkSession.conf
        .getOption("spark.graft.streaming.derivate.idleTimeoutMs")
        .map { raw =>
          try raw.trim.toLong
          catch { case _: NumberFormatException => throw Unstreamable(
            "spark.graft.streaming.derivate.idleTimeoutMs must be a " +
              s"millisecond count, got '$raw'") }
        }.getOrElse(30L * 24 * 3600 * 1000)
      val aggd0 = aggregated(child, base, store)
      // the event-time timeout needs a watermark-tagged column on the
      // state operator's input — `wt` (window_time of the child window)
      // carries it through the aggregation. A derivate-over-derivate child
      // has already been through flatMapGroupsWithState, whose output
      // cannot carry event time; eviction is impossible there, so refuse
      // rather than silently accumulate unbounded state.
      val hasWm = aggd0.queryExecution.analyzed.output.exists(a =>
        a.name == "wt" && a.metadata.contains("spark.watermarkDelayMs"))
      if (idleMs > 0 && !hasWm)
        throw Unstreamable(
          "derivate idle eviction needs an event-time input (nested " +
            "derivate loses it) — set " +
            "spark.graft.streaming.derivate.idleTimeoutMs <= 0 to run " +
            "with unbounded per-series state")
      val timeout =
        if (idleMs > 0) GroupStateTimeout.EventTimeTimeout()
        else GroupStateTimeout.NoTimeout()
      val aggd = aggd0
        .select(col("metric"), col("ws"), col("value").cast("double"),
          col("wt"))
        .as[(String, Long, Double, java.sql.Timestamp)](enc)
      aggd.groupByKey(_._1)(Encoders.STRING)
        .flatMapGroupsWithState(
          OutputMode.Append(), timeout)(
          derivateGroup(idleMs))(Encoders.product[DerivState], outEnc)
        .toDF("metric", "ws", "value")
        .withColumn("wt", lit(null).cast("timestamp"))
    case RTrans("confidence", _, _) =>
      throw Unstreamable("confidence channel is batch-only")
    case RTrans(name, c, child) =>
      aggregated(child, base, store)
        .withColumn("value", Trans.spark(name, c)(col("value")))

    // COMBINATOR OVER RAW SELECTS (pointwise combine of live series —
    // quotient of two counters, diff of mirrored gauges): the batch form
    // unions each child's slot rows tagged by child index and combines
    // per slot. The stream mirrors that union ROW-LOCALLY — each slot row
    // explodes into one copy per child whose selector it matches (a
    // series matching two children contributes twice, exactly the batch
    // union) — then ONE slot-window groupBy runs the batch's combine
    // expressions: pooled decimal aggregates for the commutative ops, the
    // max-pivot + fold for the order-sensitive ones. One stateful
    // operator, the slot collapse chained beneath it like every other
    // shape.
    case RComb(name, children) if children.forall(isRawLeaf) =>
      val res = children.map(_.resMs).distinct
      if (res.length != 1)
        throw Unstreamable("resolution_conflict: combinator children " +
          s"must share one resolution, got ${res.mkString(", ")} ms")
      val condVals = children.map(leafCondValue(_, store))
      val anyCond = condVals.map(_._1).reduce(_ || _)
      val collapsed = slotCollapse(base.where(anyCond), res.head, store)
      val branches = condVals.zipWithIndex.map { case ((cond, v), i) =>
        when(cond, struct(lit(i).as("cidx"), v.cast("double").as("v")))
      }
      val ex = collapsed
        .select(timeWindow(collapsed, res.head, res.head).as("w"),
          explode(filter(array(branches: _*), b => b.isNotNull)).as("c"))
      val n = children.length
      val combined = name match {
        case "sum" => ex.groupBy(col("w"))
          .agg(graft.core.Exact.dsum(col("c.v")).as("value"))
        case "avg" => ex.groupBy(col("w"))
          .agg(graft.core.Exact.davg(col("c.v")).as("value"))
        case "min" => ex.groupBy(col("w")).agg(min(col("c.v")).as("value"))
        case "max" => ex.groupBy(col("w")).agg(max(col("c.v")).as("value"))
        case _ =>
          val pivots = (0 until n).map(i =>
            max(when(col("c.cidx") === i, col("c.v"))).as(s"c$i"))
          val piv = ex.groupBy(col("w")).agg(pivots.head, pivots.tail: _*)
          val folded = name match {
            case "diff" =>
              (1 until n).foldLeft[Column](col("c0"))((a, i) => a - col(s"c$i"))
            case "product" =>
              (1 until n).foldLeft[Column](col("c0"))((a, i) => a * col(s"c$i"))
            case "quotient" =>
              (1 until n).foldLeft[Column](col("c0")) { (a, i) =>
                when(col(s"c$i") === 0.0, a).otherwise(a / col(s"c$i"))
              }
          }
          piv.select(col("w"), folded.as("value"))
      }
      combined.select(lit(name).as("metric"),
        unix_millis(col("w.start")).as("ws"),
        col("value").cast("double").as("value"),
        window_time(col("w")).as("wt"))

    case RComb(name, children) =>
      // Same-window combinators FUSE into one stateful operator: each child
      // becomes a filtered aggregate (`agg(when(childCond, v))`) inside a
      // single windowed groupBy, then the combine is a stateless projection
      // over the child columns. No union of streaming aggregations, no
      // multi-stateful-operator plan — one state store row per window.
      val aggrs = children.map {
        case a: RAggr if !a.name.endsWith("_conf") => a
        case a: RAggr => throw Unstreamable(
          s"${a.name}: confidence channel is batch-only")
        case other => throw Unstreamable(
          "streaming combinators take same-window aggregations as " +
            s"children, got: $other")
      }
      val ws = aggrs.map(_.windowMs).distinct
      if (ws.length != 1)
        throw Unstreamable("resolution_conflict: streaming combinator " +
          s"children must share one window, got ${ws.mkString(", ")} ms")
      val res = aggrs.map(_.child.resMs).distinct
      if (res.length != 1)
        throw Unstreamable("resolution_conflict: streaming combinator " +
          s"children must share one resolution, got ${res.mkString(", ")} ms")
      val condVals = aggrs.map(a => leafCondValue(a.child, store))
      val anyCond = condVals.map(_._1).reduce(_ || _)
      // one shared slot collapse under the fused groupBy: per-child
      // conditions and transforms only read metric/tag columns and the
      // slot value, so they evaluate identically on slot rows
      val collapsed = slotCollapse(base.where(anyCond), res.head, store)
      val cvs = aggrs.zip(condVals).zipWithIndex.map {
        case ((a, (cond, v)), i) =>
          Aggrs.spark(a.name, a.const)(when(cond, v),
            when(cond, orderTs(collapsed))).as(s"c$i")
      }
      val piv = collapsed
        .groupBy(timeWindow(collapsed, ws.head, res.head).as("w"))
        .agg(cvs.head, cvs.tail: _*)
      val cols = aggrs.indices.map(i => col(s"c$i"))
      // null children (no data in window) skip for the commutative funs —
      // matching the batch combinator, where a missing child contributes no
      // row to the union — and propagate through the non-commutative folds,
      // matching the batch pivot
      val folded = name match {
        case "sum" =>
          when(cols.map(_.isNull).reduce(_ && _), lit(null))
            .otherwise(cols.map(c => coalesce(c, lit(0.0))).reduce(_ + _))
        case "avg" =>
          val cnt = cols.map(c => when(c.isNotNull, 1.0).otherwise(0.0))
            .reduce(_ + _)
          when(cnt === 0.0, lit(null))
            .otherwise(cols.map(c => coalesce(c, lit(0.0))).reduce(_ + _) / cnt)
        case "min" => least(cols: _*)
        case "max" => greatest(cols: _*)
        case "diff" => cols.reduce(_ - _)
        case "product" => cols.reduce(_ * _)
        case "quotient" => cols.tail.foldLeft(cols.head)((a, c) =>
          when(c === 0.0, a).otherwise(a / c))
      }
      piv.select(lit(name).as("metric"),
        unix_millis(col("w.start")).as("ws"), folded.as("value"),
        window_time(col("w")).as("wt"))

    // RAW SELECT (scan/lookup with no aggregation — the reference's plain
    // `get`/`lookup` read): the selected series' slot rows ARE the
    // result. The slot collapse is the one stateful stage (the same
    // chained append-mode shape every aggregation runs on top of), each
    // slot emitting its decimal-exact mean on close — the batch leaf's
    // per-slot value, minus the gap-filled conf-0 empties a stream has no
    // row to trigger (the stream≡batch contract already scopes to
    // with-data slots). Pointwise transforms over the leaf land here via
    // the generic RTrans recursion above. GROUP BY under a raw lookup
    // still rejects inside leafCondValue (group keys change the output
    // key).
    case p @ (_: RScan | _: RLookup) =>
      val lf = leaf(p, base, store)
      if (lf.columns.contains("sw"))
        lf.select(col("metric"), unix_millis(col("sw.start")).as("ws"),
          col("value").cast("double").as("value"),
          window_time(col("sw")).as("wt"))
      else
        // slotExact=false: raw events pass through stateless (documented
        // divergence from the batch slot model, same as the aggregation
        // paths under that flag)
        lf.select(col("metric"), unix_millis(col("ts")).as("ws"),
          col("value").cast("double").as("value"),
          col("ts").as("wt"))

    case other =>
      throw Unstreamable(
        s"not a streamable plan shape (aggregation required): $other")
  }

  /** a raw leaf the passthrough/combinator paths accept: scan, ungrouped
    * lookup, or a pointwise-transform chain over one (GROUP BY changes
    * the output key — leafCondValue rejects it with the typed error)
    */
  private def isRawLeaf(p: RExpr): Boolean = p match {
    case _: RScan => true
    case l: RLookup => l.groupBy.isEmpty
    case RTrans(n, _, child) =>
      n != "derivate" && n != "confidence" && isRawLeaf(child)
    case _ => false
  }

  /** leaf as a (row condition, value expression) pair — used by the fused
    * combinator path, where filtering must happen inside the aggregate
    * (per child), not on the rows (shared by all children).
    */
  private def leafCondValue(p: RExpr, store: StreamStore): (Column, Column) =
    p match {
      case RScan(_, path, _) => (pathCond(path, exact = true), col("value"))
      case RLookup(_, path, where, gb, _, _) =>
        if (gb.nonEmpty)
          throw Unstreamable("GROUP BY tag under an aggregation: group keys " +
            "change the output key — use the batch compiler or group post-sink")
        (path.map(pathCond(_, exact = false)).getOrElse(lit(true)) &&
          where.map(tagCond(_, store)).getOrElse(lit(true)), col("value"))
      case RTrans(name, c, child) =>
        if (name == "derivate" || name == "confidence")
          throw Unstreamable(s"$name is not a row-local transform")
        val (cond, v) = leafCondValue(child, store)
        (cond, Trans.spark(name, c)(v))
      case other =>
        throw Unstreamable(s"not a streamable leaf: $other")
    }

  /** leaf: filter the stream down to the selected series, collapse to one
    * value per (metric, slot), THEN apply the pointwise transforms — the
    * batch order, where transforms below an aggregation see slot values
    * (`abs(mean(slot))`, not `mean(abs(event))`). The filter runs on raw
    * events (it only reads metric/tag columns, constant per series, so
    * filtering before the collapse is equivalent and prunes its state).
    */
  private def leaf(p: RExpr, base: DataFrame, store: StreamStore)
                  (implicit opts: CompileOpts): DataFrame = {
    val (cond, v) = leafCondValue(p, store)
    slotCollapse(base.where(cond), p.resMs, store).withColumn("value", v)
  }

  /** Validate a conf window/resolution pair and return the per-window slot
    * count. State bound: the per-window present-slot set (collect_set) and
    * the synthesized {0,1} array are O(window/resolution) in ONE
    * state/output row — fine at typical ratios (a 1 m window at 1 s
    * resolution is 60 entries) but a 14 d window at 1 s resolution would
    * put 1.2 M entries in a single row. Refuse past a documented cap
    * instead of degrading unbounded
    * (`spark.graft.streaming.conf.maxSlots`, default 100 000).
    */
  private def confSlots(df: DataFrame, name: String, w: Long,
                        res: Long): Long = {
    if (w % res != 0 || w <= 0)
      throw Unstreamable(
        s"confidence window $w ms must be a positive multiple of the " +
          s"$res ms stream resolution")
    val slots = w / res
    val maxSlots = df.sparkSession.conf
      .getOption("spark.graft.streaming.conf.maxSlots")
      .map { raw =>
        try raw.trim.toLong
        catch { case _: NumberFormatException => throw Unstreamable(
          "spark.graft.streaming.conf.maxSlots must be a slot count, " +
            s"got '$raw'") }
      }.getOrElse(100000L)
    if (slots > maxSlots)
      throw Unstreamable(
        s"${name}: $slots slots per window ($w ms / $res ms) exceeds the " +
          s"per-row state bound of $maxSlots " +
          "(spark.graft.streaming.conf.maxSlots) — widen the resolution " +
          "or raise the bound")
    slots
  }

  /** Base aggregate over the synthesized per-window confidence array `ca`
    * (a SQL expression producing array<double> of exactly `slots` {0,1}
    * entries in slot-time order). The grammar registers exactly the
    * reference's six threshold forms (Resolver.scala: count/first/last ×
    * above/below); each mirror reproduces the batch expression on the
    * dense spine — counts stay BIGINT like `count(when(...))`, first/last
    * read the array in slot-time order like `min_by/max_by` over ts, and
    * an empty qualifying set yields NULL like the batch arg-min/arg-max.
    */
  private def confAggExpr(name: String, c: Option[Double], slots: Long,
                          ca: String): Column = {
    def filt(cmp: String) = s"filter($ca, x -> x $cmp ${c.get}D)"
    def endOr(f: String, at: Int) =
      s"IF(size($f) > 0, element_at($f, $at), CAST(NULL AS DOUBLE))"
    name match {
      case "count_above" =>
        expr(s"CAST(size(${filt(">")}) AS BIGINT)")
      case "count_below" =>
        expr(s"CAST(size(${filt("<")}) AS BIGINT)")
      case "first_above" => expr(endOr(filt(">"), 1))
      case "first_below" => expr(endOr(filt("<"), 1))
      case "last_above"  => expr(endOr(filt(">"), -1))
      case "last_below"  => expr(endOr(filt("<"), -1))
      case other => throw Unstreamable(s"${other}_conf is not streamable")
    }
  }

  /** On the stream the tags ARE event columns, so tag predicates need no
    * index: the store's tag map names the physical column (string-compared,
    * the DQL tag-value type). Unknown tags reproduce the batch semantics
    * for missing tag columns — `=` never matches, `!=` always.
    */
  private def tagCol(store: StreamStore, ns: String,
                     key: String): Option[Column] =
    store.tagCol(ns, key).map(n => col(n).cast("string"))

  private def tagCond(f: Ast.TagFilter, store: StreamStore): Column = f match {
    case Ast.TagEq(ns, key, v) =>
      tagCol(store, ns, key).map(_ === v).getOrElse(lit(false))
    case Ast.TagNeq(ns, key, v) =>
      tagCol(store, ns, key).map(_ =!= v).getOrElse(lit(true))
    case Ast.TagAnd(a, b) => tagCond(a, store) && tagCond(b, store)
    case Ast.TagOr(a, b)  => tagCond(a, store) || tagCond(b, store)
  }

  private def pathCond(path: Seq[String], exact: Boolean): Column = {
    val parts = split(col("metric"), "\\.")
    val sizeOk =
      if (exact) size(parts) === path.length else size(parts) >= path.length
    path.zipWithIndex.collect {
      case (p, i) if p != "*" => element_at(parts, i + 1) === p
    }.foldLeft(sizeOk)(_ && _)
  }
}
