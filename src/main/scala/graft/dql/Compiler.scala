package graft.dql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Exact
import graft.ops.{Aggrs, Combs, Trans}
import Ast._
import Resolver._

/** Typed DQL plan → DataFrame. This is where the reference's dflow process
  * graph (one Erlang process per operator) becomes a declarative Catalyst
  * plan (SURVEY §3 "Spark lifecycle equivalent"): leaves are parquet scans
  * with pushed range/path predicates, aggregations are window groupBys,
  * transforms are codegen'd projections; Catalyst+Tungsten replace the
  * hand-built streaming engine.
  *
  * Scale posture: series are ROWS throughout — a glob or lookup matching a
  * million series compiles to the same fixed-size plan (the reference
  * expands one plan node per series, its main scaling weakness, SURVEY
  * §7.2). Gap-filling (dense empty points with confidence 0) is applied
  * LAZILY: only when the plan actually reads the confidence channel —
  * value-channel aggregates are provably identical on sparse input, so the
  * dense spine (timeframe × series) is never materialized unless paid for.
  */
final class Compiler(spark: SparkSession, store: SeriesStore, nowMs: Long) {
  final case class CompileError(msg: String) extends RuntimeException(msg)

  /** compile a full query to one result frame:
    * (name, ts_ms, value[, metadata]) for metric selectors, or the event
    * frame (event_id, ts_ms, event_type, value) for a lone events selector.
    */
  def compile(q: Query): DataFrame = {
    val (startMs, endMs) = range(q.timeframe)
    val isEvents = q.selectors.map(_.expr).exists {
      case _: EventsScan => true
      case _             => false
    }
    if (isEvents) {
      if (q.selectors.length != 1)
        throw CompileError("an EVENTS selector must be the only selector")
      // decorations reject exactly like the pipeline branch does:
      // dropping a user's SHIFT/AS/METADATA/TOP silently is never OK
      // (r17 review — the paths must agree)
      val esel = q.selectors.head
      if (esel.shift.nonEmpty || esel.name.nonEmpty || esel.metadata.nonEmpty)
        throw CompileError(
          "SHIFT/AS/METADATA do not apply to EVENTS selectors")
      if (q.limit.nonEmpty)
        throw CompileError("TOP/BOTTOM scores series — not event streams")
      Resolver.resolve(q.selectors.head.expr, q.aliases, store.resolutionMs) match {
        case REvents(bucket, filter) =>
          val ev = store.events(spark, bucket)
          val cond = filter.map(eventCond(ev, _)).getOrElse(lit(true))
          return ev.where(col("ts_ms") >= startMs && col("ts_ms") < endMs && cond)
            .select("event_id", "ts_ms", "event_type", "value")
        case other =>
          throw CompileError(s"unexpected events plan: $other")
      }
    }

    val resolved = q.selectors.map(sel =>
      sel -> Resolver.resolve(sel.expr, q.aliases, store.resolutionMs))

    // pipeline table functions return corpus-shaped frames (pairs,
    // quality rows, neighbor lists) — like EVENTS they stand alone: no
    // union with series selectors, no series-stream decorations. The
    // timeframe is part of every DQL query's grammar but corpus tables
    // are timeless, so it scopes nothing here.
    resolved.collectFirst { case (_, p: RPipeline) => p }.foreach {
      case RPipeline(name, args) =>
        if (q.selectors.length != 1)
          throw CompileError("a pipeline selector must be the only selector")
        val sel = q.selectors.head
        if (sel.shift.nonEmpty || sel.name.nonEmpty || sel.metadata.nonEmpty)
          throw CompileError(
            "SHIFT/AS/METADATA do not apply to pipeline table functions")
        if (q.limit.nonEmpty)
          throw CompileError(
            "TOP/BOTTOM scores series — not pipeline table functions")
        return pipelineTable(name, args)
    }

    val withMeta = q.selectors.exists(_.metadata.nonEmpty)
    val frames = resolved.zipWithIndex.map { case ((sel, plan), idx) =>
      val shiftMs = sel.shift.map(_.ms).getOrElse(0L)
      val df = compilePlan(plan, startMs - shiftMs, endMs - shiftMs,
        needsConf(plan))
      val unshifted =
        if (shiftMs == 0) df
        else df.withColumn("ts_ms", col("ts_ms") + shiftMs)
      named(unshifted, sel, idx, withMeta)
    }
    val unioned = frames.reduce(_ unionByName _)
    q.limit.fold(unioned)(applyLimit(unioned, _))
  }

  // ----------------------------------------------------------- naming

  /** default output name = unparsed selector text (src/dql_flatten.erl:19);
    * `$N` → N-th metric path segment; `$ns:tag` → tag column.
    */
  private def named(df: DataFrame, sel: Selector, idx: Int,
                    withMeta: Boolean): DataFrame = {
    val nameCol = sel.name match {
      case None => lit(Unparse.expr(sel.expr))
      case Some(parts) =>
        concat_ws(".", parts.map {
          case NLit(s) => lit(s): Column
          case NPos(n) => element_at(split(col("metric"), "\\."), n)
          case NTag(ns, key) =>
            store.tagCol(ns, key) match {
              case Some(c) if df.columns.contains(c) => col(c).cast("string")
              case _ => lit("")
            }
        }: _*)
    }
    val base = df.select(nameCol.as("name"), col("metric"), col("ts_ms"),
      col("value"))
    if (!withMeta) base
    else {
      base.withColumn("metadata", lit(Unparse.metadataJson(sel.metadata)))
    }
  }

  /** constant-free aggregates a BY clause can score with (the
    * threshold family needs a constant the Limit grammar cannot
    * supply; percentile needs its fraction) */
  private val LimitFns: Set[String] =
    Set("sum", "avg", "min", "max", "variance", "stddev", "median")

  /** TOP/BOTTOM n BY fun: score each output series by running the fun over
    * its ENTIRE range as one window (src/dqe_funnel.erl:59-71), keep the n
    * best series' streams. Deterministic tie-break on the series key.
    */
  private def applyLimit(df: DataFrame, lim: Limit): DataFrame = {
    // typed registry error, never a MatchError from the aggregate
    // dispatch (r17 review)
    if (!LimitFns.contains(lim.fun))
      throw CompileError(
        s"TOP/BOTTOM BY '${lim.fun}' — the score must be a " +
          s"constant-free aggregate (${LimitFns.toSeq.sorted.mkString("/")})")
    val scoreAgg = Aggrs.spark(lim.fun, None)(col("value"), col("ts_ms"))
    val scores = df.groupBy(col("name"), col("metric"))
      .agg(scoreAgg.as("score"))
    val ordered =
      if (lim.top) scores.orderBy(col("score").desc, col("name"), col("metric"))
      else scores.orderBy(col("score").asc, col("name"), col("metric"))
    val winners = ordered.limit(lim.n).select("name", "metric")
    df.join(broadcast(winners), Seq("name", "metric"), "left_semi")
  }

  // --------------------------------------------------------- pipeline

  /** Registered pipeline table functions (SURVEY §7.2.11): each binds the
    * store's corpus tables and dispatches to the SAME Scala operator the
    * batch gates oracle-test — the DQL spelling adds a registry entry,
    * never a second implementation.
    */
  private def pipelineTable(name: String, args: Seq[Double]): DataFrame = {
    def docs = store.table(spark, "documents")
    name match {
      case "dedup_exact" => graft.pipeline.Dedup.exact(docs)
      // near-dup pairs read OFF the shared (session, corpus) band-index
      // artifact (r17 review): the signature/banding cost is paid once
      // per corpus refresh, not re-exploded per query — bit-identical
      // to the direct build (BandIndexSpec pins index ≡ direct), so the
      // oracle stays the uncapped pairs mirror
      case "dedup_minhash" =>
        graft.pipeline.Dedup.minhashPairsFromIndex(
          DqlArtifacts.bandIndex(spark, store), args.head)
      // the hot-band disclosure surface from the language: the band
      // buckets a capped candidate build (Dedup.MaxBandBucket posture)
      // would exclude, read off the shared (session, corpus) band
      // index artifact — degenerate boilerplate clusters become a
      // queryable table for canonical-keep / quota routing
      case "dedup_hot_bands" =>
        graft.pipeline.Dedup.hotBands(
          DqlArtifacts.bandIndex(spark, store), args.head.toInt)
      case "quality" =>
        // widened like the batch gate: the multi-regex rule battery is
        // the text family's costliest per-row compute, and a narrow
        // parquet scan would serialize it onto a handful of tasks
        graft.pipeline.TextOps.quality(graft.core.Parallel.widen(docs))
      case "langid" => // widened: multi-pattern regex per row, like quality
        graft.pipeline.TextOps.langid(graft.core.Parallel.widen(docs))
      case "scrub" =>
        graft.pipeline.Dedup.substringScrub(
          graft.core.Parallel.widen(docs), args.head.toInt)
      case "scrub_keepfirst" =>
        graft.pipeline.Dedup.substringScrubKeepFirst(
          graft.core.Parallel.widen(docs), args.head.toInt)
      case "dedup_simhash" =>
        graft.pipeline.Dedup.simhashPairs(docs, args.head.toInt)
      case "dedup_ngram" =>
        graft.pipeline.Dedup.ngramJaccardPairs(docs, args.head)
      case "dedup_embed" =>
        graft.pipeline.Dedup.embedNearDup(
          store.table(spark, "embeddings"),
          bits = DqlArtifacts.bits(spark, store) + 2,
          dim = DqlArtifacts.Dim, threshold = args.head)
      case "tokens" =>
        graft.pipeline.TextOps.tokens(docs)
      case "fingerprint" =>
        graft.pipeline.TextOps.fingerprint(docs)
      case "gopher" => // widened like quality: multi-fold per-row compute
        graft.pipeline.TextOps.gopherRules(graft.core.Parallel.widen(docs),
          stops = graft.pipeline.TextOps.Stopwords)
      // similarity family: the DEFAULT spellings dispatch through the
      // memoized index artifacts ([[DqlArtifacts]]) — the scale posture
      // the rest of Similarity.scala exists for; `*_brute` spellings are
      // the EXPLICIT exhaustive fallbacks (r15 verdict: the registry
      // previously exposed only the brute rung). `sim_topk` keeps exact
      // semantics by probing every cell of the IVF artifact — all-cells
      // coverage ≡ brute bit-for-bit (each corpus vector lives in
      // exactly one cell), but the corpus-side join is equi on cell id,
      // never a full-corpus nested loop, and the index build is paid
      // once per (session, corpus), not per query. First arg is the
      // QUERY VEC_ID BOUND (queries = vec_id < n), not a count.
      case "sim_topk" =>
        val emb = store.table(spark, "embeddings")
        val nc = DqlArtifacts.nCells(spark, store)
        val (cells, cents) = DqlArtifacts.ivfIndex(spark, store, nc)
        graft.pipeline.Similarity.ivfTopKProbedOn(cells, cents,
          emb.where(col("vec_id") < args.head.toLong), args(1).toInt,
          nProbe = nc)
      // explicit index-sizing spelling: same all-cells exact dispatch,
      // index built/read at the CALLER's nCells — the gate pins
      // result ≡ brute at a non-default sizing (sizing-invariance,
      // r16 verdict #3)
      case "sim_topk_sized" =>
        val emb = store.table(spark, "embeddings")
        val nc = args(2).toInt
        val (cells, cents) = DqlArtifacts.ivfIndex(spark, store, nc)
        graft.pipeline.Similarity.ivfTopKProbedOn(cells, cents,
          emb.where(col("vec_id") < args.head.toLong), args(1).toInt,
          nProbe = nc)
      case "sim_topk_probe" =>
        val emb = store.table(spark, "embeddings")
        val (cells, cents) = DqlArtifacts.ivfIndex(spark, store,
          DqlArtifacts.nCells(spark, store))
        graft.pipeline.Similarity.ivfTopKProbedOn(cells, cents,
          emb.where(col("vec_id") < args.head.toLong), args(1).toInt,
          nProbe = args(2).toInt)
      case "sim_topk_brute" =>
        val emb = store.table(spark, "embeddings")
        graft.pipeline.Similarity.bruteTopK(emb,
          emb.where(col("vec_id") < args.head.toLong), args(1).toInt)
      // the quantized resident-index rungs from the language: ranking is
      // the asymmetric quantized cosine against the memoized artifact —
      // the memory-per-vector ladder (float32 → int8 4× → codes-only
      // 32×) that decides how much corpus a deployment keeps hot. Both
      // share the exact index's cell assignment (one memo), probe like
      // sim_topk_probe, and never rebuild per query.
      case "sim_topk_sq8" =>
        val emb = store.table(spark, "embeddings")
        val (idx, cents) = DqlArtifacts.sq8Index(spark, store,
          DqlArtifacts.nCells(spark, store))
        graft.pipeline.Similarity.ivfSq8QuantTopKProbedOn(idx, cents,
          emb.where(col("vec_id") < args.head.toLong), args(1).toInt,
          nProbe = args(2).toInt)
      case "sim_topk_pq" =>
        val emb = store.table(spark, "embeddings")
        val (idx, cbsRow, cents) = DqlArtifacts.pqIndex(spark, store,
          DqlArtifacts.nCells(spark, store), DqlArtifacts.PqM,
          DqlArtifacts.PqKsub)
        graft.pipeline.Similarity.ivfPqTopKProbedOn(idx, cbsRow, cents,
          emb.where(col("vec_id") < args.head.toLong), DqlArtifacts.PqM,
          DqlArtifacts.Dim, args(1).toInt, nProbe = args(2).toInt)
      // exact radius search rides the same IVF artifact as sim_topk:
      // all-cells probe + threshold filter ≡ brute rangeSearch, but the
      // corpus join is equi on cell id — with this, NO default
      // similarity spelling in the language plans a full-corpus nested
      // loop (the *_brute forms remain the explicit fallbacks)
      case "sim_range" =>
        val emb = store.table(spark, "embeddings")
        val nc = DqlArtifacts.nCells(spark, store)
        val (cells, cents) = DqlArtifacts.ivfIndex(spark, store, nc)
        graft.pipeline.Similarity.ivfRangeOn(cells, cents,
          emb.where(col("vec_id") < args.head.toLong), args(1),
          nProbe = nc)
      case "sim_range_brute" =>
        val emb = store.table(spark, "embeddings")
        graft.pipeline.Similarity.rangeSearch(emb,
          emb.where(col("vec_id") < args.head.toLong), args(1))
      // hybrid retrieval from the language: the IVF list (single-cell,
      // via the memoized index) and the multi-probe-LSH list (bits=6
      // band index) RRF-fused — both legs read their artifacts, depth
      // 10 per leg like the batch sim_rrf gate
      case "sim_rrf" =>
        val emb = store.table(spark, "embeddings")
        val queries = emb.where(col("vec_id") < args.head.toLong)
        val (cells, cents) = DqlArtifacts.ivfIndex(spark, store,
          DqlArtifacts.nCells(spark, store))
        val ivfList = graft.pipeline.Similarity.ivfTopKProbedOn(
          cells, cents, queries, k = 10, nProbe = 1)
        val mpBits = 6
        val mpList = graft.pipeline.Similarity.lshMultiProbeTopKOn(
          DqlArtifacts.lshIndex(spark, store, mpBits),
          graft.pipeline.Similarity.lshPrep(queries, mpBits,
            DqlArtifacts.Dim), mpBits, k = 10)
        graft.pipeline.Similarity.rrfFuse(ivfList, mpList, args(1).toInt)
      case "sim_range_lsh" =>
        val emb = store.table(spark, "embeddings")
        val b = DqlArtifacts.bits(spark, store)
        val idx = DqlArtifacts.lshIndex(spark, store, b)
        graft.pipeline.Similarity.rangeSearchLshOn(idx,
          graft.pipeline.Similarity.lshPrep(
            emb.where(col("vec_id") < args.head.toLong),
            b, DqlArtifacts.Dim), args(1))
      // trained quality filter: FROZEN memoized weights (trained on the
      // train split once per session/corpus/hyperparams — deployment
      // posture), the val split scored row-locally against them; the
      // scan variant scores every bin edge by held-out accuracy
      case "quality_trained" =>
        val w = DqlArtifacts.heldOutWeights(spark, store, args(0).toInt,
          args(1).toInt, args(2), args(3).toInt, args(4))
        graft.pipeline.Classifier.scoreWith(
          graft.pipeline.Curation.onSplit(docs, args(4), "val"),
          args(0).toInt, args(3).toInt, w)
      case "threshold_scan" =>
        val w = DqlArtifacts.heldOutWeights(spark, store, args(0).toInt,
          args(1).toInt, args(2), args(3).toInt, args(4))
        graft.pipeline.Classifier.thresholdScan(
          graft.pipeline.Classifier.scoreWith(
            graft.pipeline.Curation.onSplit(docs, args(4), "val"),
            args(0).toInt, args(3).toInt, w), args(5).toInt)
      case other =>
        throw CompileError(s"unregistered pipeline function '$other'")
    }
  }

  // ------------------------------------------------------------ plans

  private def needsConf(p: RExpr): Boolean = p match {
    case RAggr(n, _, _, c)   => n.endsWith("_conf") || needsConf(c)
    case RTrans("confidence", _, c) => true
    case RTrans(_, _, c)     => needsConf(c)
    case RComb(_, cs)        => cs.exists(needsConf)
    case RHistFn(_, _, _, _, _, c) => needsConf(c)
    case _                   => false
  }

  /** Duplicate-leaf CSE (the reference gates this behind a duplicate-ratio
    * check, src/dqe.erl:207-225; here identical scans share one DataFrame
    * instance, so Catalyst sees one subplan and ReuseExchange/ReuseSubquery
    * apply — free, no gate needed).
    */
  private val leafCache =
    scala.collection.mutable.HashMap.empty[(RExpr, Long, Long, Boolean), DataFrame]

  /** frame contract: (metric, <tag cols>, ts_ms, value, confidence) */
  private def compilePlan(p: RExpr, startMs: Long, endMs: Long,
                          dense: Boolean): DataFrame = p match {
    case s @ RScan(bucket, path, _) =>
      leafCache.getOrElseUpdate((s, startMs, endMs, dense),
        leaf(bucket, getCond(path), startMs, endMs, dense))

    case RLookup(coll, path, where, gb, gf, _) =>
      val base = leaf(coll, lookupCond(path, where, store.tagCol),
        startMs, endMs, dense)
      if (gb.isEmpty) base
      else {
        val cols = gb.map { case (ns, key) =>
          store.tagCol(ns, key).getOrElse(
            throw CompileError(s"unknown tag $ns:$key"))
        }
        val grouped = Combs.groupUsing(gf.get,
            base.groupBy(col("ts_ms") +: cols.map(col): _*),
            avg(col("confidence")).as("confidence"))
          .withColumn("metric",
            concat_ws(".", cols.map(c => col(c).cast("string")): _*))
        // restore the non-grouped tag columns as nulls (frame contract)
        store.tagCols.filterNot(cols.contains).foldLeft(grouped) {
          (df, c) => df.withColumn(c, lit(null).cast("string"))
        }
      }

    case RAggr(name, c, w, child)
        if (name == "median" || name == "percentile") &&
          (saltedPercentile ||
            w / math.max(child.resMs, 1L) >= saltedAutoRows) =>
      // skew path: the exact windowed order statistic is the one holistic
      // aggregate whose group state is O(window), so a hot series key at
      // cluster scale lands one window's full row set in one task. The
      // salted two-phase form (core/Skew) spreads phase 1 over
      // (series, window, salt) — identical output, different shuffle shape.
      // Enabled by spark.graft.dql.percentile.salted, or AUTOMATICALLY
      // when the plan-time row bound per (series, window) group trips
      // spark.graft.dql.percentile.salted.autoRows (default 1M): in the
      // dense series model a group holds at most window/child-tick points,
      // so the bound needs no statistics — it is exact from the plan. Below
      // the bound the single-phase form stays cheaper (one shuffle).
      val in = compilePlan(child, startMs, endMs, dense)
      val p = if (name == "median") 0.5 else c.get
      val keyed = in.select(col("metric") +: store.tagCols.map(col) :+
        Exact.wstart(col("ts_ms"), w).as("ts_ms") :+
        col("ts_ms").as("__ts") :+ col("value") :+ col("confidence"): _*)
      graft.core.Skew.saltedKthWindow(keyed,
        Seq("metric") ++ store.tagCols :+ "ts_ms", p, saltCount)

    case RAggr(name, c, w, child) =>
      val in = compilePlan(child, startMs, endMs, dense)
      val (baseName, channel) =
        if (name.endsWith("_conf")) (name.stripSuffix("_conf"), col("confidence"))
        else (name, col("value"))
      val agg = Aggrs.spark(baseName, c)(channel, col("ts_ms"))
      groupWindow(in, w).agg(agg.as("value"),
        avg(col("confidence")).as("confidence"))

    case RHistFn(name, pOpt, w, htv, sf, child) =>
      val in0 = compilePlan(child, startMs, endMs, dense)
      // HDR recording semantics: int-round, then DROP out-of-range points —
      // `hdr_histogram:record/2`'s return value is ignored in the reference
      // (src/dqe_hist.erl:53-57), and the hdr library REJECTS values above
      // the highest trackable value (and below 0), so such points never
      // enter the histogram: they contribute to neither the value nor the
      // confidence channel. (Not a clamp: with htv=100 a point at 185 is
      // discarded, not counted as 100.) Null-valued gap rows pass through —
      // they carry the confidence-0 channel and aggregates skip null values.
      val ints = Aggrs.histRecorded(col("value"))
      val in = in0.where(col("value").isNull || (ints >= 0L && ints <= htv))
      // quantiles default to the exact order statistic (strictly inside any
      // sf error bound); Aggrs.HdrConf routes them through the HDR sketch
      val useHdr = Aggrs.hdrQuantiles(spark)
      val agg = Aggrs.hist(name, pOpt, sf, useHdr)(ints)
      // the EXACT hist quantile is the same holistic collect-and-sort as
      // the plain percentile, so it salts under the same plan-time bound
      // (see the RAggr salted case). The HDR sketch path never salts: its
      // aggregate is fixed-size and mergeable — map-side partials already
      // spread a hot window, which is the point of the sketch.
      val saltHist = !useHdr && (name == "median" || name == "percentile") &&
        (saltedPercentile || w / math.max(child.resMs, 1L) >= saltedAutoRows)
      if (saltHist) {
        val p = if (name == "median") 0.5 else pOpt.get
        val keyed = in.select(col("metric") +: store.tagCols.map(col) :+
          Exact.wstart(col("ts_ms"), w).as("ts_ms") :+
          col("ts_ms").as("__ts") :+ ints.as("value") :+ col("confidence"): _*)
        graft.core.Skew.saltedKthWindow(keyed,
          Seq("metric") ++ store.tagCols :+ "ts_ms", p, saltCount)
          .withColumn("value", col("value").cast("double"))
      } else
        groupWindow(in, w).agg(agg.as("value"),
          avg(col("confidence")).as("confidence"))

    case RTrans("derivate", _, child) =>
      Trans.derivate(compilePlan(child, startMs, endMs, dense))
    case RTrans("confidence", _, child) =>
      compilePlan(child, startMs, endMs, dense)
        .withColumn("value", col("confidence"))
    case RTrans(name, c, child) =>
      compilePlan(child, startMs, endMs, dense)
        .withColumn("value", Trans.spark(name, c)(col("value")))

    case RComb(name, children) =>
      val frames = children.zipWithIndex.map { case (ch, i) =>
        compilePlan(ch, startMs, endMs, dense)
          .select(lit(i).as("cidx"), col("ts_ms"), col("value"),
            col("confidence"))
      }
      val all = frames.reduce(_ unionByName _)
      // a combinator AVERAGES its children's confidence at each point, like
      // the reference's mmath_comb channel handling (SURVEY §1.1:
      // "aggregation averages it"); the value channel combines per `name`
      val conf = avg(col("confidence")).as("confidence")
      val combined = name match {
        case "sum" | "avg" | "min" | "max" => all.groupBy("ts_ms")
          .agg(Combs.pooled(name, col("value")).as("value"), conf)
        case _ =>
          val n = children.length
          // per-child row counts ride the pivot: a non-commutative
          // combinator folds its children IN ARGUMENT ORDER over one
          // value each — a child that matched several series (glob /
          // broad lookup) would silently collapse to max-of-series
          // under the bare pivot (r17 review), so multiplicity is a
          // LOUD typed error, never a silent semantics change
          val pivots = (0 until n).flatMap(i => Seq(
            max(when(col("cidx") === i, col("value"))).as(s"c$i"),
            count(when(col("cidx") === i, 1)).as(s"n$i"))) :+ conf
          val piv = all.groupBy("ts_ms").agg(pivots.head, pivots.tail: _*)
          val folded = Combs.fold(name, (0 until n).map(i => col(s"c$i")))
          val oneEach = (0 until n).map(i => col(s"n$i") <= 1L)
            .reduce(_ && _)
          piv.select(col("ts_ms"),
            when(oneEach, folded).otherwise(raise_error(lit(
              s"$name: non-commutative combinators take ONE series per " +
                "child; a child matched several at the same point — " +
                "reduce it first (GROUP BY ... USING, or an " +
                "aggregation) or use sum/avg/min/max"))).as("value"),
            col("confidence"))
      }
      // a combinator's output is one synthetic series
      combined.withColumn("metric", lit(name))
        .select(Seq(col("metric")) ++ store.tagCols.map(c => lit(null).cast("string").as(c)) ++
          Seq(col("ts_ms"), col("value"), col("confidence")): _*)

    case _: REvents =>
      throw CompileError("event streams cannot appear under metric operators")

    case p: RPipeline => // unreachable: compile() intercepts, Resolver guards
      throw CompileError(
        s"${p.name}(...) must be the query's only selector")
  }

  private def saltedPercentile: Boolean = spark.conf
    .getOption("spark.graft.dql.percentile.salted").contains("true")
  /** phase-1 salts of the skew path's two-phase percentile */
  private val saltCount = 16
  private def saltedAutoRows: Long = spark.conf
    .getOption("spark.graft.dql.percentile.salted.autoRows")
    .map(_.toLong).getOrElse(1000000L)

  /** group on the series key + window start, re-exposed as ts_ms */
  private def groupWindow(in: DataFrame, w: Long) =
    in.groupBy(Seq(col("metric")) ++ store.tagCols.map(col) :+
      Exact.wstart(col("ts_ms"), w).as("ts_ms"): _*)

  // ----------------------------------------------------------- leaves

  /** scan + optional lazy densification over [startMs, endMs). The range
    * goes through the store's scanRange so partitioned bindings prune
    * before IO; the catalog for densification comes from the unranged
    * series (the tag index's role — a series with no points in range still
    * gets its all-empty spine).
    */
  private def leaf(bucket: String, cond: Column, startMs: Long,
                   endMs: Long, dense: Boolean): DataFrame = {
    val base = store.scanRange(spark, bucket, startMs, endMs).where(cond)
    if (!dense) base.withColumn("confidence", lit(1.0))
    else {
      // the BUCKET's resolution, not a session-wide constant: the
      // SeriesStore seam advertises per-bucket resolutions (the
      // reference fetches it per bucket, src/dql_resolution.erl:206),
      // and a 60 s bucket densified at a 1 s spine would fabricate
      // 60× phantom gap rows (r17 review)
      val res = store.resolutionMs(bucket)
      val catalog = store.series(spark, bucket).where(cond)
        .select((col("metric") +: store.tagCols.map(col)): _*).distinct()
      // the spine enumerates the 0-ANCHORED resolution grid within
      // [startMs, endMs): stored points are grid-floored
      // (SeriesOps.series), so a spine anchored at a raw startMs (e.g.
      // the default nowMs = currentTimeMillis, virtually never a grid
      // multiple) would share no ts with any real point and every slot
      // would read as an empty (r17 review; the reference aligns
      // ranges to the resolution, src/dql_resolution.erl:131-135).
      // Grid-aligned callers (every oracle gate) see identical spines.
      val firstSlot = math.ceil(startMs.toDouble / res).toLong * res
      val nSlots = math.max(0L, (endMs - firstSlot + res - 1) / res)
      val spine = spark.range(nSlots)
        .select((lit(firstSlot) + col("id") * res).as("ts_ms"))
        .crossJoin(broadcast(catalog))
      spine.join(base, Seq("metric") ++ store.tagCols :+ "ts_ms", "left")
        .withColumn("confidence",
          when(col("value").isNotNull, 1.0).otherwise(0.0))
    }
  }

  private def eventCond(ev: DataFrame, f: EventFilter): Column = f match {
    case ECmp(p, op, v) =>
      val value: Any = v match {
        case Left(s)  => s
        case Right(d) => d
      }
      graft.ops.Events.compile(ev, graft.ops.Events.Cmp(pathStr(p), op, value))
    case ERegex(p, pat) =>
      graft.ops.Events.compile(ev, graft.ops.Events.Regex(pathStr(p), pat))
    case EAnd(a, b) => eventCond(ev, a) && eventCond(ev, b)
    case EOr(a, b)  => eventCond(ev, a) || eventCond(ev, b)
    case ENot(g)    => !eventCond(ev, g)
  }
  private def pathStr(p: Seq[String]): String =
    p.head + p.tail.map(s => if (s.startsWith("[")) s else "." + s).mkString

  // -------------------------------------------------------- timeframe

  def range(tf: Timeframe): (Long, Long) = {
    def pt(p: Point): Long = p match {
      case AbsMs(ms) => ms
      case Now       => nowMs
      case Ago(t)    => nowMs - t.ms
    }
    tf match {
      case Last(t)       => (nowMs - t.ms, nowMs)
      case Between(a, b) =>
        val (x, y) = (pt(a), pt(b))
        if (x <= y) (x, y) else (y, x) // reference swaps reversed bounds
      case After(p, t)   => (pt(p), pt(p) + t.ms)
      case Before(p, t)  => (pt(p) - t.ms, pt(p))
    }
  }
}

object Compiler {
  /** parse + resolve + compile in one shot */
  def run(spark: SparkSession, store: SeriesStore, nowMs: Long,
          dql: String): DataFrame =
    new Compiler(spark, store, nowMs).compile(Parser.parse(dql))
}
