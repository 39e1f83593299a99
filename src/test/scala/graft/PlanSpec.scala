package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Physical-plan shape assertions — the properties that decide whether
  * these plans survive a 100 TB scale-up (builder brief): predicate and
  * projection pushdown into the parquet scan, broadcast joins for small
  * dimensions, and map-side partial aggregation.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("filter + projection pushdown reach the parquet scan (tpch_scan)") {
    val plan = planOf(
      entry.TpchQueries.queries("tpch_scan")(spark, dir))
    assert(plan.contains("PushedFilters:"), plan.take(2000))
    assert(plan.contains("EqualTo(o_orderstatus,F)") ||
      plan.contains("o_orderstatus"), "status predicate not pushed")
    // projection pruning: payload columns we did not select must not be read
    assert(!plan.contains("o_orderpriority"), "unneeded column in ReadSchema")
  }

  test("series-level predicates push through the slot aggregation to the scan") {
    // the non-materialized derivation: filter must reach the parquet scan
    val df = core.SeriesOps.seriesFresh(spark, dir)
      .where(col("mtype") === "purchase")
    val plan = planOf(df)
    // the event_type filter must sit in the parquet scan, below the groupBy
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(event_type,purchase)"),
      plan.take(3000))
    // the memoized path filters the cached table instead (in-memory batch
    // pruning) — no parquet re-scan at all
    val cached = planOf(core.SeriesOps.series(spark, dir)
      .where(col("mtype") === "purchase"))
    assert(cached.contains("InMemoryTableScan"), cached.take(2000))
  }

  test("dimension joins broadcast; fact table is not shuffled for the join") {
    val plan = planOf(entry.TpchQueries.queries("tpch_q5")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q3/q18 shapes: broadcast dims, top-k is TakeOrdered, no Cartesian") {
    val q3 = planOf(entry.TpchQueries.queries("tpch_q3")(spark, dir))
    assert(q3.contains("BroadcastHashJoin"), q3.take(2000))
    assert(q3.contains("TakeOrderedAndProject"),
      "top-10 must cap via TakeOrderedAndProject, not a global sort")
    assert(!q3.contains("CartesianProduct"))
    val q18 = planOf(entry.TpchQueries.queries("tpch_q18")(spark, dir))
    assert(q18.contains("BroadcastHashJoin") &&
      q18.contains("TakeOrderedAndProject") &&
      !q18.contains("CartesianProduct"), q18.take(3000))
  }

  test("q12/q4/q22 shapes: semi/anti joins, broadcast threshold, no Cartesian") {
    // q12: both CASE measures fold in ONE aggregate pass over the join
    val q12 = planOf(entry.TpchQueries.queries("tpch_q12")(spark, dir))
    assert(!q12.contains("CartesianProduct"), q12.take(3000))
    assert("HashAggregate".r.findAllIn(q12).size >= 2, q12.take(3000))
    // q4: the EXISTS decorrelates to a semi join — never an inner join
    // that would duplicate multi-lineitem orders
    val q4 = planOf(entry.TpchQueries.queries("tpch_q4")(spark, dir))
    assert(q4.contains("LeftSemi"), q4.take(3000))
    // q22: NOT EXISTS is an anti join; the scalar average threshold rides
    // a broadcast, never a per-row subquery
    val q22 = planOf(entry.TpchQueries.queries("tpch_q22")(spark, dir))
    assert(q22.contains("LeftAnti"), q22.take(3000))
    assert(q22.contains("BroadcastExchange"), q22.take(3000))
    assert(!q22.contains("CartesianProduct"), q22.take(3000))
  }

  test("q6/q10/q13/q14/q19 shapes: scan-agg pushdown, TakeOrdered top-k," +
    " outer-join histogram, one-pass ratio, broadcast OR-of-ANDs") {
    // q6: no join at all — predicates reach the parquet scan
    val q6 = planOf(entry.TpchQueries.queries("tpch_q6")(spark, dir))
    assert(!q6.contains("Join"), q6.take(3000))
    assert(q6.contains("PushedFilters: ["), q6.take(3000))
    // q10: top-20 caps via TakeOrderedAndProject, never a global sort
    val q10 = planOf(entry.TpchQueries.queries("tpch_q10")(spark, dir))
    assert(q10.contains("TakeOrderedAndProject") &&
      !q10.contains("CartesianProduct"), q10.take(3000))
    // q13: the zero-order customers survive — LEFT OUTER, and the
    // priority filter sits under the join, not over it
    val q13 = planOf(entry.TpchQueries.queries("tpch_q13")(spark, dir))
    assert(q13.contains("LeftOuter"), q13.take(3000))
    // q14: ONE aggregate pass computes both measures (plus its partial)
    val q14 = planOf(entry.TpchQueries.queries("tpch_q14")(spark, dir))
    assert(q14.contains("BroadcastHashJoin"), q14.take(3000))
    // q19: part broadcasts; the disjunction never becomes a Cartesian
    val q19 = planOf(entry.TpchQueries.queries("tpch_q19")(spark, dir))
    assert(q19.contains("BroadcastHashJoin") &&
      !q19.contains("CartesianProduct"), q19.take(3000))
  }

  test("co-located bucketed join: no exchange under the join on either" +
    " side") {
    val df = entry.TpchQueries.queries("tpch_q12_colocated")(spark, dir)
    val root = df.queryExecution.executedPlan
    val inner = root match {
      case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val joins = inner.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins
        .ShuffledHashJoinExec => j
    }
    assert(joins.nonEmpty, inner.toString.take(2000))
    // the bucketed layouts satisfy the join's distribution requirement:
    // NO shuffle anywhere beneath the join
    val shufflesUnderJoin = joins.flatMap(_.collect {
      case e: org.apache.spark.sql.execution.exchange
        .ShuffleExchangeExec => e })
    assert(shufflesUnderJoin.isEmpty,
      shufflesUnderJoin.mkString("\n"))
  }

  test("range search has no per-query window; dim stats partial-aggregate") {
    val emb = core.Tables(spark, dir, "embeddings")
    // threshold filter, not a rank: a Window node would mean the full
    // score set shuffles per query before selection
    val range = planOf(pipeline.Similarity.rangeSearch(
      emb, emb.where(col("vec_id") < 5), minCos = 0.3))
    assert(!range.contains("Window"), range.take(3000))
    assert(!range.contains("CartesianProduct"), range.take(3000))
    assert(range.contains("BroadcastExchange"), range.take(3000))
    // per-dimension moments must combine map-side (partial + final pairs)
    val stats = planOf(pipeline.Similarity.dimStats(emb))
    assert("HashAggregate".r.findAllIn(stats).size >= 2, stats.take(3000))
  }

  test("ppl buckets broadcast the cuts; snaive reuses the series exchange") {
    val docs = core.Tables(spark, dir, "documents")
    val scored = pipeline.TextOps.unigramLogProb(docs,
      pipeline.TextOps.unigramModel(docs))
    val plan = planOf(pipeline.Curation.pplBuckets(docs, scored))
    // the cut table joins back as a broadcast; labeling adds no sort
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    graft.core.Caches.releaseTransient(spark)
    // snaive: the window's metric exchange is the ONLY exchange — the
    // per-series aggregate must reuse it, and the RANGE-frame lookup
    // must not plan a self-join
    val s = spark
    import s.implicits._
    val sn = planOf(ops.Rolling.snaive(
      Seq(("m", 0L, 1.0), ("m", 10L, 2.0)).toDF("metric", "ts_ms", "value"),
      10L))
    assert("Exchange hashpartitioning".r.findAllIn(sn).size == 1,
      sn.take(3000))
    assert(!sn.contains("Join"), sn.take(3000))
  }

  test("bpe encode: literal trained rules make one linear window chain " +
    "over a single word exchange, no joins") {
    val s = spark
    import s.implicits._
    val train = Seq((0L, "aa ab aa ba"), (1L, "ab bb aa")).toDF("doc_id", "text")
    val unseen = Seq((2L, "aab bba abab")).toDF("doc_id", "text")
    val plan = planOf(pipeline.Bpe.encode(train, unseen, 2, 10))
    // rules are literals: no broadcast of a best-pair frame, no join at all
    assert(!plan.contains("Join"), plan.take(3000))
    // ONE exchange — the symbol table's word repartition; every rule's
    // window chain and the final per-word aggregation reuse it (word ⊆
    // every later clustering key), and the top-k is TakeOrdered
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(3000))
    graft.core.Caches.releaseTransient(s)
  }

  test("substring-span dedup: no cartesian, partial-aggregated hash " +
    "count, scrub never explodes the corpus tokens") {
    val docs = core.Tables(spark, dir, "documents")
    val spans = planOf(pipeline.Dedup.substringSpans(docs, 8))
    assert(!spans.contains("CartesianProduct"), spans.take(3000))
    // the count-by-hash must combine map-side (partial + final pair)
    assert("HashAggregate".r.findAllIn(spans).size >= 2, spans.take(3000))
    val scrub = planOf(pipeline.Dedup.substringScrub(docs, 8))
    assert(!scrub.contains("CartesianProduct"), scrub.take(3000))
    // Generates = the gram posexplodes only (occurrence table is derived
    // twice by design); the token filter is a row-local array op, so the
    // corpus token explosion the oracle needs (wp) must NOT appear here
    assert("Generate".r.findAllIn(scrub).size <= 3, scrub.take(3000))
  }

  test("gram-counts append: one keyed full-outer merge, delta count " +
    "partial-aggregated, no Cartesian") {
    val docs = core.Tables(spark, dir, "documents")
    val base = docs.where(col("doc_id") % 5 =!= 0)
    val delta = docs.where(col("doc_id") % 5 === 0)
    val plan = planOf(pipeline.Dedup.gramCountsAppend(
      pipeline.Dedup.gramCounts(base, 8), delta, 8))
    assert(plan.contains("FullOuter"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // both sides' hash counts combine map-side before the merge
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan.take(3000))
  }

  test("keep-first scrub: canonical pick is a partial-aggregated min — " +
    "no window, no sort on the gram hash") {
    val docs = core.Tables(spark, dir, "documents")
    val plan = planOf(pipeline.Dedup.substringScrubKeepFirst(docs, 8))
    // every Window is the doc-keyed island merge (lag + running sum); a
    // window or sort keyed on the gram hash means the canonical-
    // occurrence exemption regressed to the single-task hot-gram sort
    assert("windowspecdefinition\\(gh#".r.findFirstIn(plan).isEmpty,
      plan.take(3000))
    assert("Sort \\[gh#".r.findFirstIn(plan).isEmpty, plan.take(3000))
    // exactly the island merge's two Window nodes (lag + running sum)
    assert("Window \\[".r.findAllIn(plan).size <= 2, plan.take(3000))
    // the fused (count, min-struct) dup-hash aggregation must combine
    // map-side: partial + final HashAggregate pairs
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("classifier scoring is one scan: literal weights, no joins, no " +
    "exchange; the gradient round shuffles only the dim-bounded buckets") {
    val docs = core.Tables(spark, dir, "documents")
    val w = Array.fill(34)(0.001)
    val score = planOf(pipeline.Classifier.scoreWith(docs, 32, 55, w))
    // weights ride as literals — the strongest broadcast: zero joins,
    // zero exchanges, the whole scorer is a row-local projection chain
    assert(!score.contains("Join"), score.take(3000))
    // the only exchange is the input-widening round-robin on the scan —
    // never a hash shuffle of the corpus
    assert(!score.contains("Exchange hashpartitioning"), score.take(3000))
    // one gradient round: a single-stage mapPartitions reduction — no
    // exchange anywhere, no join; weights live in the task closure
    val feats = pipeline.Classifier.gradientPlanProbe(docs, 32, 55, w)
    assert(!feats.contains("Exchange hashpartitioning"), feats.take(3000))
    assert(feats.contains("MapPartitions"), feats.take(3000))
    assert(!feats.contains("Join"), feats.take(3000))
  }

  test("DQL sim_topk routes through the IVF artifact: corpus join is " +
    "cell-keyed, brute is the only spelling allowed to nested-loop") {
    val p = planOf(entry.DqlQueries.queries("dql_pipeline_simtopk")(spark, dir))
    // the candidate join against the corpus is equi on cell id
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the ONLY live nested-loop join is queries × nCells centroids —
    // bounded by the quantizer, never the corpus. Subtrees under an
    // InMemoryRelation are the memoized artifact's BUILD plan (executed
    // once at provisioning, rendered but not re-run per query), so they
    // are excluded from the count.
    val live = {
      val out = Seq.newBuilder[String]
      var skipIndent = -1
      p.linesIterator.foreach { l =>
        val ind = l.indexWhere(c => !" :+-".contains(c))
        if (skipIndent >= 0 && (ind > skipIndent || ind < 0)) ()
        else {
          skipIndent = if (l.contains("InMemoryRelation")) ind else -1
          out += l
        }
      }
      out.result()
    }
    val bnl = live.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 1,
      s"expected at most the bounded centroid cross join, got $bnl\n" +
        p.take(3000))
    // the index rides in as an InMemoryRelation (memoized artifact), not
    // a rebuilt assignment pipeline
    assert(p.contains("InMemoryTableScan"), p.take(3000))
    // the radius search rides the same artifact: cell-keyed, and its
    // live plan carries no full-corpus nested loop either
    val pr = planOf(
      entry.DqlQueries.queries("dql_pipeline_simrange")(spark, dir))
    assert(pr.contains("BroadcastHashJoin"), pr.take(3000))
    assert(pr.contains("InMemoryTableScan"), pr.take(3000))
    // the explicit fallback spellings are the ones that may scan-all
    val brute = planOf(
      entry.DqlQueries.queries("dql_pipeline_simtopk_brute")(spark, dir))
    assert(brute.contains("BroadcastNestedLoopJoin"), brute.take(3000))
    val bruteR = planOf(
      entry.DqlQueries.queries("dql_pipeline_simrange_brute")(spark, dir))
    assert(bruteR.contains("BroadcastNestedLoopJoin"), bruteR.take(3000))
  }

  test("rollup/pivot expand in one pass; q17 reuses the aggregate join") {
    // ROLLUP compiles to Expand — every grouping level from ONE input
    // pass, not a union of per-level rescans
    val roll = planOf(entry.EventQueries.queries("events_rollup")(spark, dir))
    assert(roll.contains("Expand"), roll.take(3000))
    assert(!roll.contains("Union"), roll.take(3000))
    // PIVOT is aggregation, never |types| self-joins
    val piv = planOf(entry.EventQueries.queries("events_pivot")(spark, dir))
    assert(!piv.contains("Join"), piv.take(3000))
    // Q17's per-part average joins back broadcast-side; no Cartesian
    val q17 = planOf(entry.TpchQueries.queries("tpch_q17")(spark, dir))
    assert(q17.contains("BroadcastHashJoin"), q17.take(3000))
    assert(!q17.contains("CartesianProduct"), q17.take(3000))
  }

  test("q2/q9/q16/q20 shapes: window-decorrelated min, broadcast star," +
    " anti-join NOT IN, double semi-join") {
    // q2: the correlated per-part MIN is ONE window over the aggregated
    // cost set (never a re-scan per part), and the limit caps via
    // TakeOrderedAndProject
    val q2 = planOf(entry.TpchQueries.queries("tpch_q2")(spark, dir))
    assert(q2.contains("Window"), q2.take(3000))
    assert(q2.contains("LeftSemi") && q2.contains("BroadcastExchange"),
      q2.take(3000))
    assert(q2.contains("TakeOrderedAndProject") &&
      !q2.contains("CartesianProduct"), q2.take(3000))
    // q9: part/supplier/nation broadcast; only lineitem x orders shuffles
    val q9 = planOf(entry.TpchQueries.queries("tpch_q9")(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(q9).size >= 3, q9.take(3000))
    assert(!q9.contains("CartesianProduct"), q9.take(3000))
    // q16: the NOT IN excluded-supplier list is a LEFT ANTI join
    val q16 = planOf(entry.TpchQueries.queries("tpch_q16")(spark, dir))
    assert(q16.contains("LeftAnti") && q16.contains("BroadcastExchange"),
      q16.take(3000))
    assert(!q16.contains("CartesianProduct"), q16.take(3000))
    // q20: both nested INs decorrelate to LEFT SEMI joins
    val q20 = planOf(entry.TpchQueries.queries("tpch_q20")(spark, dir))
    assert("LeftSemi".r.findAllIn(q20).size >= 2, q20.take(3000))
    assert(!q20.contains("CartesianProduct"), q20.take(3000))
  }

  test("windowed aggregation has map-side partial aggregation") {
    val plan = planOf(entry.AggrQueries.queries("aggr_sum")(spark, dir))
    // HashAggregate appears in partial + final pairs around one exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(2000))
  }

  test("TOP/BOTTOM winner join is a broadcast semi-join") {
    val plan = planOf(entry.LimitQueries.queries("limit_top")(spark, dir))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan.take(3000))
  }

  test("salted percentile compiles to the two-phase (key, salt) shape") {
    // flag on: phase 1 aggregates on (series, window, __salt), phase 2
    // merges per (series, window) — two exchanges instead of one, no
    // single task ever holds a hot window's full row set
    val salted = entry.DqlQueries.queries("dql_percentile_salted")(spark, dir)
    val plan = planOf(salted)
    assert(plan.contains("__salt"), plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size >= 2,
      "expected the two-phase shuffle shape:\n" + plan.take(3000))
    // and the default path stays single-phase (one window shuffle)
    val unsalted = planOf(
      entry.DqlQueries.queries("dql_percentile_int")(spark, dir))
    assert(!unsalted.contains("__salt"), unsalted.take(2000))
  }

  test("salted percentile auto-engages past the plan-time group-row bound") {
    // no flag set: a 14 d window / 1 s tick bounds each (series, window)
    // group at 1.2M rows, past the 1M autoRows default — two-phase shape
    val auto = planOf(
      entry.DqlQueries.queries("dql_percentile_auto")(spark, dir))
    assert(auto.contains("__salt"), auto.take(3000))
    // the exact hist quantile salts under the same bound; the short-window
    // hist form stays single-phase
    val hist = planOf(entry.DqlQueries.queries("dql_hist_auto")(spark, dir))
    assert(hist.contains("__salt"), hist.take(3000))
    assert(!planOf(entry.DqlQueries.queries("dql_hist")(spark, dir))
      .contains("__salt"))
    // the same query under a raised threshold stays single-phase
    spark.conf.set("spark.graft.dql.percentile.salted.autoRows", "10000000")
    try {
      val raised = planOf(
        entry.DqlQueries.queries("dql_percentile_auto")(spark, dir))
      assert(!raised.contains("__salt"), raised.take(2000))
    } finally
      spark.conf.unset("spark.graft.dql.percentile.salted.autoRows")
  }

  test("per-stratum top-k rewrites to a window group limit; decon broadcasts") {
    // the rank-filtered window must trigger InferWindowGroupLimit: each
    // task keeps its local top-k BEFORE the exchange, so the shuffle
    // carries O(partitions × k) rows per stratum, not the full stratum
    val topk = planOf(entry.PipelineQueries.queries("curate_topk")(spark, dir))
    assert(topk.contains("WindowGroupLimit"), topk.take(3000))
    // r21: decon is a row-local probe of the broadcast eval shingle SET —
    // one scan, no shingle explode, no join, no exchange before the
    // gate's orderBy (the former explode → broadcast join →
    // count_distinct shape shuffled every surviving gram occurrence)
    val decon = planOf(entry.PipelineQueries.queries("decon_ngram")(spark, dir))
    assert(!decon.contains("Join"), decon.take(3000))
    assert(!decon.contains("HashAggregate"), decon.take(3000))
    // the only Generate is the single-evaluation UDF seal, never a
    // shingle explode (posexplode/explode over the gram transform)
    assert(!decon.contains("posexplode"), decon.take(3000))
    // cluster-balanced sampling keeps the same two-phase rank shape, and
    // its quantizer assignment must broadcast (never shuffle the corpus)
    val clu = planOf(
      entry.PipelineQueries.queries("sample_by_cluster")(spark, dir))
    assert(clu.contains("WindowGroupLimit"), clu.take(3000))
    assert(!clu.contains("CartesianProduct"), clu.take(3000))
    // the per-source quota cap is the same rank-filter shape
    val quota = planOf(
      entry.PipelineQueries.queries("sample_quota")(spark, dir))
    assert(quota.contains("WindowGroupLimit"), quota.take(3000))
  }

  test("DAU/WAU: observed-day filter is a semi-join, no Cartesian") {
    val plan = planOf(
      entry.EventQueries.queries("events_active")(spark, dir))
    assert(plan.contains("LeftSemi"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("no pairwise operator plans an unblocked Cartesian product") {
    // every blocked-pair pipeline must join on its block key — a
    // CartesianProduct node means the blocking regressed to all-pairs.
    // (Broadcast nested-loop joins over a provably tiny broadcast side —
    // the ANN query sets — are the one sanctioned non-equi shape.)
    val docs = core.Tables(spark, dir, "documents")
    val emb = core.Tables(spark, dir, "embeddings")
    val plans = Seq(
      "minhash" -> pipeline.Dedup.minhashPairs(docs, 0.5),
      "ngram" -> pipeline.Dedup.ngramJaccardPairs(docs, 0.3),
      "simhash" -> pipeline.Dedup.simhashPairs(docs, 8),
      "embed" -> pipeline.Dedup.embedNearDup(emb, 6, 64, 0.3))
    plans.foreach { case (name, df) =>
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a Cartesian product:\n${plan.take(3000)}")
    }
  }

  test("incremental IVF maintenance: assign broadcasts the quantizer, append is one cell-id shuffle") {
    val emb = core.Tables(spark, dir, "embeddings")
    val cents = pipeline.Similarity.ivfCents(
      emb.where(org.apache.spark.sql.functions.col("vec_id") < 60), 8)
    val assigned = pipeline.Similarity.ivfAssign(
      emb.where(org.apache.spark.sql.functions.col("vec_id") >= 60), cents)
    val aPlan = planOf(assigned)
    // the refresh batch scores against a BROADCAST centroid table — the
    // corpus side must never shuffle for the assignment
    assert(aPlan.contains("BroadcastExchange"), aPlan.take(3000))
    assert(!aPlan.contains("CartesianProduct"), aPlan.take(3000))
    // the argmax is the row-local bestCid fold, not a per-vector window
    // rank: a Window node here means the corpus-wide explode + sort +
    // exchange shape regressed (the only Exchange in the plan is the
    // nCells-row centroid packing)
    assert(!aPlan.contains("Window"), aPlan.take(3000))
    val (packedBase, _) = streaming.SimStream.ivfIndex(
      emb.where(org.apache.spark.sql.functions.col("vec_id") < 60), 8)
    val appended = streaming.SimStream.ivfIndexAppend(packedBase, assigned)
    val mPlan = planOf(appended)
    // the merge itself is a keyed FULL-OUTER equi-join on the cell id (the
    // index partition key) — a Cartesian here would all-pairs the index at
    // scale. (The lineage also carries the base build's sanctioned
    // centroid-broadcast nested loop; in production the base index is a
    // materialized table, so only the merge join shape matters.)
    assert(!mPlan.contains("CartesianProduct"), mPlan.take(3000))
    assert("(?s)Join.*\\[cell#\\d+L?\\], \\[cell#\\d+L?\\], FullOuter".r
      .findFirstIn(mPlan).isDefined ||
      mPlan.contains("FullOuter"), mPlan.take(3000))
  }

  test("sq8 search plans: no Cartesian anywhere, rerank joins broadcast") {
    val emb = core.Tables(spark, dir, "embeddings")
    val queries = emb.where(
      org.apache.spark.sql.functions.col("vec_id") < 3)
      .select("vec_id", "embedding")
    // quantized + rerank: candidate scoring joins on the cell id, the
    // rerank shortlist broadcasts against the full-precision table — a
    // Cartesian in either stage would all-pairs the corpus at scale
    val sq8 = planOf(pipeline.Similarity.ivfSq8TopK(
      emb, queries, 8, 64, k = 5, rerank = 15))
    assert(!sq8.contains("CartesianProduct"), sq8.take(3000))
    assert(sq8.contains("BroadcastExchange"), sq8.take(3000))
    val quant = planOf(pipeline.Similarity.ivfSq8QuantTopK(
      emb, queries, 8, 64, k = 5))
    assert(!quant.contains("CartesianProduct"), quant.take(3000))
  }
}
