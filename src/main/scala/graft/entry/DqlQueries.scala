package graft.entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core.{Exact, SeriesOps}
import graft.dql.{Compiler, Parser, TestdataStore, Unparse}

/** Gate queries driven through the FULL DQL stack — parse → resolve →
  * compile → Catalyst — proving a reference user's queries run verbatim
  * (SURVEY §3 lifecycle). Each oracle recomputes the same semantics in
  * DuckDB; default output names come from the unparser exactly as the
  * engine produces them (`src/dql_flatten.erl:19-27`).
  */
object DqlQueries extends QueryProvider {
  /** fixed "now" for determinism: 2024-02-01T00:00:00Z (after the data) */
  private val NowMs = 1706745600000L
  private val T0 = 1704067200000L // 2024-01-01
  private val T1 = 1706745600000L // 2024-02-01
  private val D5 = 1704412800000L // 2024-01-05
  private val D6 = 1704499200000L // 2024-01-06
  private val Hour = 3600000L
  private val Day = 86400000L

  private val dqls: Map[String, String] = Map(
    "dql_select_avg" ->
      s"SELECT avg('purchase'.'3' BUCKET 'testdata', 1 h) BETWEEN $T0 AND $T1",
    "dql_chain" ->
      s"SELECT sum(divide('purchase'.'3' BUCKET 'testdata', 2), 1 h) BETWEEN $T0 AND $T1",
    "dql_infix_arith" ->
      s"SELECT ('purchase'.'3' BUCKET 'testdata') * 2 BETWEEN $T0 AND $T1",
    "dql_infix_comb" ->
      s"SELECT avg('purchase'.'3' BUCKET 'testdata', 1 d) / avg('error'.'3' BUCKET 'testdata', 1 d) BETWEEN $T0 AND $T1",
    "dql_sget_glob" ->
      s"SELECT avg('purchase'.* BUCKET 'testdata', 1 d) BETWEEN $T0 AND $T1",
    "dql_lookup_where" ->
      s"SELECT avg('purchase' FROM 'testdata' WHERE 'graft':'user' = '3', 1 h) BETWEEN $T0 AND $T1",
    "dql_group_by" ->
      s"SELECT 'purchase' FROM 'testdata' WHERE 'graft':'user' = '1' OR 'graft':'user' = '2' GROUP BY $$'graft':'user' USING avg BETWEEN $T0 AND $T1",
    // non-commutative group fun: members fold in lexicographic metric
    // order (deterministic analog of the reference's index-answer order)
    "dql_group_diff" ->
      s"SELECT 'purchase' FROM 'testdata' WHERE 'graft':'user' = '1' OR 'graft':'user' = '2' GROUP BY $$'graft':'type' USING diff BETWEEN $T0 AND $T1",
    "dql_top" ->
      s"SELECT avg('purchase'.* BUCKET 'testdata', 1 d) BETWEEN $T0 AND $T1 TOP 3 BY avg()",
    "dql_shift" ->
      s"SELECT avg('purchase'.'3' BUCKET 'testdata', 1 h) SHIFT BY 1 d BETWEEN ${T0 + 7 * Day} AND ${T0 + 14 * Day}",
    "dql_naming" ->
      s"SELECT derivate('purchase'.'3' BUCKET 'testdata') AS 'rate'.$$1.$$'graft':'user' METADATA {'team': 'infra'} BETWEEN $T0 AND $T1",
    "dql_conf" ->
      s"SELECT count_above_conf('purchase'.'3' BUCKET 'testdata', 0.5, 1 h) BETWEEN $D5 AND $D6",
    "dql_percentile_int" ->
      s"SELECT percentile('purchase'.'3' BUCKET 'testdata', 1, 1 h) BETWEEN $T0 AND $T1",
    "dql_hist" ->
      s"SELECT percentile(histogram('purchase'.'3' BUCKET 'testdata', 1000, 3, 1 h), 0.9) BETWEEN $T0 AND $T1",
    // htv rejection: slot values reach ~185, so htv=100 DROPS them from
    // the histogram — hdr_histogram:record's return is ignored in the
    // reference and the hdr lib rejects out-of-range values, so p90 is
    // computed over only in-range points (src/dqe_hist.erl:53-57)
    "dql_hist_htv" ->
      s"SELECT percentile(histogram('purchase'.'3' BUCKET 'testdata', 100, 3, 1 h), 0.9) BETWEEN $T0 AND $T1",
    // same query through the faithful HDR-bucketed sketch
    // (Aggrs.HdrConf=true, set by the gate runner): sf=1
    // gives sub-bucket count 32, so values ≥ 32 are genuinely quantized
    // and the quantile reports the bucket's highest equivalent value —
    // the oracle mirrors the bucket math, not the exact order statistic
    "dql_hist_hdr" ->
      s"SELECT percentile(histogram('purchase'.'3' BUCKET 'testdata', 1000, 1, 1 h), 0.9) BETWEEN $T0 AND $T1",
    // same percentile through the salted two-phase skew path
    // (spark.graft.dql.percentile.salted=true, set by the gate runner):
    // must hash-match the unsalted order statistic exactly — the oracle is
    // the plain discrete kth, proving the two shuffle shapes agree
    "dql_percentile_salted" ->
      s"SELECT percentile('purchase'.'3' BUCKET 'testdata', 0.9, 1 h) BETWEEN $T0 AND $T1",
    // salted AUTO-trigger: a 14 d window at 1 s resolution bounds every
    // (series, window) group at 1,209,600 rows — past the 1M autoRows
    // default — so the two-phase shape engages with NO flag set; the
    // oracle is again the plain discrete kth (value-identical by
    // construction, whatever the shuffle shape)
    "dql_percentile_auto" ->
      s"SELECT percentile('purchase'.'3' BUCKET 'testdata', 0.9, 14 d) BETWEEN $T0 AND $T1",
    // the exact hist quantile salts under the same plan-time bound
    "dql_hist_auto" ->
      s"SELECT percentile(histogram('purchase'.'3' BUCKET 'testdata', 1000, 3, 14 d), 0.9) BETWEEN $T0 AND $T1",
    // combinator confidence propagation: the sum of two gap-filled series
    // carries the MEAN of its children's confidence at each point
    "conf_comb" ->
      s"SELECT confidence(sum('purchase'.'1' BUCKET 'testdata', 'purchase'.'2' BUCKET 'testdata')) BETWEEN $D5 AND $D6",
    // same confidence semantics through the non-commutative (pivot) branch
    "conf_comb_quot" ->
      s"SELECT confidence(quotient('purchase'.'1' BUCKET 'testdata', 'purchase'.'2' BUCKET 'testdata')) BETWEEN $D5 AND $D6",
    "dql_alias" ->
      s"SELECT max('base', 1 h) ALIAS 'base' = 'purchase'.'3' BUCKET 'testdata' BETWEEN $T0 AND $T1",
    "dql_multi" ->
      s"SELECT avg('purchase'.'3' BUCKET 'testdata', 1 d), max('purchase'.'3' BUCKET 'testdata', 1 d) BETWEEN $T0 AND $T1",
    "dql_last_ago" ->
      s"SELECT avg('purchase'.'3' BUCKET 'testdata', 1 d) BEFORE 7 d AGO FOR 7 d",
    "dql_after_for" ->
      s"SELECT max('purchase'.'3' BUCKET 'testdata', 1 d) AFTER $D5 FOR 7 d",
    "dql_date_points" ->
      "SELECT avg('purchase'.'3' BUCKET 'testdata', 1 d) BETWEEN '2024-01-05' AND '2024-01-15'",
    "dql_all_from" ->
      s"SELECT sum(ALL FROM 'testdata' WHERE 'graft':'type' = 'error' AND 'graft':'user' = '2', 1 d) BETWEEN $T0 AND $T1",
    "dql_events" ->
      s"SELECT EVENTS FROM 'testdata' WHERE 'k' > 50 AND NOT 'event_type' == 'view' LAST 31 d",
    // resolution coarsening chain: hourly means re-aggregated daily
    // (output resolution propagation, src/dql_resolution.erl:142-158)
    "dql_nested_agg" ->
      s"SELECT sum(avg('purchase'.'3' BUCKET 'testdata', 1 h), 1 d) BETWEEN $T0 AND $T1",
    // transform after aggregation: derivative of the daily mean
    "dql_trans_after_agg" ->
      s"SELECT derivate(avg('purchase'.'3' BUCKET 'testdata', 1 d)) BETWEEN $T0 AND $T1")

  /** Pipeline table functions driven through the SAME full DQL stack
    * (parse → resolve → compile): the registry path of SURVEY §7.2.11.
    * Corpus tables are timeless, so the (grammar-mandatory) timeframe
    * scopes nothing; each entry carries its own result ordering since
    * these frames are not series streams.
    */
  private val pipeDqls: Map[String, (String, Seq[String])] = Map(
    "dql_pipeline_dedup" ->
      (("SELECT dedup_exact() LAST 30 d", Seq("text_hash"))),
    "dql_pipeline_minhash" ->
      (("SELECT dedup_minhash(0.5) LAST 30 d", Seq("doc_a", "doc_b"))),
    "dql_pipeline_quality" ->
      (("SELECT quality() LAST 30 d", Seq("doc_id"))),
    // sim_topk now dispatches through the memoized IVF artifact probing
    // ALL cells — exact by coverage, so the oracle stays the BRUTE
    // mirror: the gate pins index-path ≡ brute (r15 verdict #4)
    "dql_pipeline_simtopk" ->
      (("SELECT sim_topk(5, 10) LAST 30 d", Seq("query_id", "rank"))),
    // the hot-band disclosure table from the language (cap 1 = every
    // bucket with two or more members, so the fixture yields real rows)
    "dql_pipeline_hot_bands" ->
      (("SELECT dedup_hot_bands(1) LAST 30 d", Seq("band_idx", "bh"))),
    // EXPLICIT index sizing at a non-default nCells (5 vs the pinned
    // 8): all-cells dispatch stays exact, so the oracle is STILL brute
    // — the gate proves the dispatch is sizing-invariant (r16 #3)
    "dql_pipeline_simtopk_sized" ->
      (("SELECT sim_topk_sized(5, 10, 5) LAST 30 d",
        Seq("query_id", "rank"))),
    // the same identity at the verdict's named gate: all-cells probe of
    // the IVF artifact against the brute oracle (rerank-exact config)
    "dql_pipeline_simtopk_ivf" ->
      (("SELECT sim_topk_probe(12, 5, 8) LAST 30 d",
        Seq("query_id", "rank"))),
    // the production recall knob (nProbe=3 of 8): approximate, so the
    // oracle mirrors the SAME probed algorithm, not brute
    "dql_pipeline_simtopk_probe" ->
      (("SELECT sim_topk_probe(12, 5, 3) LAST 30 d",
        Seq("query_id", "rank"))),
    // the explicit exhaustive fallback spelling
    "dql_pipeline_simtopk_brute" ->
      (("SELECT sim_topk_brute(5, 10) LAST 30 d",
        Seq("query_id", "rank"))),
    // hybrid retrieval: IVF + multi-probe-LSH lists RRF-fused, both
    // legs reading their memoized index artifacts
    "dql_pipeline_rrf" ->
      (("SELECT sim_rrf(12, 5) LAST 30 d", Seq("query_id", "rank"))),
    // the rest of the dedup family from the language (simhash, n-gram
    // Jaccard, embedding near-dup) + three more text operators — each a
    // registry entry over the SAME oracle-tested operator
    "dql_pipeline_simhash" ->
      (("SELECT dedup_simhash(8) LAST 30 d", Seq("doc_a", "doc_b"))),
    "dql_pipeline_ngram" ->
      (("SELECT dedup_ngram(0.3) LAST 30 d", Seq("doc_a", "doc_b"))),
    "dql_pipeline_embed" ->
      (("SELECT dedup_embed(0.3) LAST 30 d", Seq("vec_a", "vec_b"))),
    "dql_pipeline_tokens" ->
      (("SELECT tokens() LAST 30 d", Seq("doc_id"))),
    "dql_pipeline_fingerprint" ->
      (("SELECT fingerprint() LAST 30 d", Seq("doc_id"))),
    "dql_pipeline_gopher" ->
      (("SELECT gopher() LAST 30 d", Seq("doc_id"))),
    // banded radius search against the memoized LSH band index
    "dql_pipeline_simrange_lsh" ->
      (("SELECT sim_range_lsh(5, 0.1) LAST 30 d",
        Seq("query_id", "vec_id"))),
    // the TRAINED quality filter from the language: frozen memoized
    // weights, val split scored — hash-matches curate_classifier_val's
    // oracle (same split, same hyperparams, same exact-decimal chain)
    "dql_pipeline_classifier" ->
      (("SELECT quality_trained(32, 10, 0.001, 55, 0.1) LAST 30 d",
        Seq("doc_id"))),
    // threshold recalibration from the language (100 bin edges scored
    // by held-out accuracy) — curate_classifier_val_thresh's oracle
    "dql_pipeline_thresh" ->
      (("SELECT threshold_scan(32, 10, 0.001, 55, 0.1, 100) LAST 30 d",
        Seq("edge"))),
    "dql_pipeline_langid" ->
      (("SELECT langid() LAST 30 d", Seq("doc_id"))),
    "dql_pipeline_scrub" ->
      (("SELECT scrub(8) LAST 30 d", Seq("doc_id"))),
    "dql_pipeline_scrub_kf" ->
      (("SELECT scrub_keepfirst(8) LAST 30 d", Seq("doc_id"))),
    // now index-backed exact (all-cells probe) — the brute oracle pins
    // index-path ≡ brute for the radius search too
    // the quantized resident-index rungs from the language: asymmetric
    // int8 / ADC ranking against the memoized artifacts, oracle = the
    // batch quantized mirrors at the fixture shape (nCells=8, m=8,
    // ksub=16)
    "dql_pipeline_simtopk_sq8" ->
      (("SELECT sim_topk_sq8(12, 5, 3) LAST 30 d",
        Seq("query_id", "rank"))),
    "dql_pipeline_simtopk_pq" ->
      (("SELECT sim_topk_pq(12, 5, 3) LAST 30 d",
        Seq("query_id", "rank"))),
    "dql_pipeline_simrange" ->
      (("SELECT sim_range(5, 0.3) LAST 30 d", Seq("query_id", "vec_id"))),
    "dql_pipeline_simrange_brute" ->
      (("SELECT sim_range_brute(5, 0.3) LAST 30 d",
        Seq("query_id", "vec_id"))))

  /** Store over the BASE subset of one corpus table for a refresh gate:
    * `table` reads through `basePred`, every other table and the series
    * binding read the full testdata dir. The corpusKey gets `keySuffix`,
    * so the subset never shares the full corpus's memoized artifacts.
    */
  private final class BaseStore(d: String, table: String, basePred: Column,
                                keySuffix: String) extends graft.dql.SeriesStore {
    private val inner = new TestdataStore(d)
    override def corpusKey: String = d + keySuffix
    def resolutionMs(bucket: String): Long = inner.resolutionMs(bucket)
    def series(s: SparkSession, bucket: String): DataFrame =
      inner.series(s, bucket)
    def tagCol(ns: String, key: String): Option[String] =
      inner.tagCol(ns, key)
    val tagCols: Seq[String] = Seq("mtype", "muser")
    def events(s: SparkSession, bucket: String): DataFrame =
      inner.events(s, bucket)
    override def table(s: SparkSession, name: String): DataFrame = {
      val t = inner.table(s, name)
      if (name == table) t.where(basePred) else t
    }
  }

  /** IVF refresh base: every embedding except the append delta (delta =
    * ids ≥ nCells with vec_id % 5 = 0; the quantizer rows vec_id < nCells
    * stay in base so the frozen quantizer equals the full-corpus
    * rebuild's — the regime where append ≡ rebuild bit-for-bit).
    */
  private def ivfBasePred: Column =
    col("vec_id") < graft.dql.DqlArtifacts.NCells || col("vec_id") % 5 =!= 0

  /** band-index refresh base: every document except the delta (doc_id %
    * 5 = 0 — all-new ids, the append regime)
    */
  private def bandBaseStore(d: String) =
    new BaseStore(d, "documents", bandBasePred, "#band-append-base")
  private def bandBasePred: Column = col("doc_id") % 5 =!= 0

  /** default name literal for a selector, exactly as the engine renders */
  private def nameOf(key: String, sel: Int = 0): String =
    Unparse.expr(Parser.parse(dqls(key)).selectors(sel).expr)
      .replace("'", "''")

  /** gates that pin an opt-in compile path: the flag is read at COMPILE
    * time, so it is set/restored around plan construction only
    */
  private val gateConfs: Map[String, (String, String)] = Map(
    "dql_hist_hdr" -> (graft.ops.Aggrs.HdrConf -> "true"),
    "dql_percentile_salted" -> ("spark.graft.dql.percentile.salted" -> "true"))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    dqls.map { case (key, dql) =>
      key -> ((s: SparkSession, d: String) => {
        val conf = gateConfs.get(key)
        conf.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          val df = Compiler.run(s, new TestdataStore(d), NowMs, dql)
          if (key == "dql_events") df.orderBy("event_id")
          else df.orderBy("name", "metric", "ts_ms")
        } finally conf.foreach { case (k, _) => s.conf.unset(k) }
      })
    } ++ pipeDqls.map { case (key, (dql, order)) =>
      key -> ((s: SparkSession, d: String) =>
        Compiler.run(s, new TestdataStore(d), NowMs, dql)
          .orderBy(order.map(col): _*))
    } + ("dql_pipeline_simtopk_refresh" -> ivfRefreshGate _) +
      ("dql_pipeline_neardup_refresh" -> bandRefreshGate _) +
      ("dql_pipeline_spans_refresh" -> gramRefreshGate _)

  /** IVF index maintenance from the registry side (r16 verdict #6):
    * the artifact is SEEDED over the base subset, the delta arrives as
    * a refresh batch, and [[graft.dql.DqlArtifacts.ivfRefresh]] takes
    * the APPEND path (all delta ids new → delta assigned against the
    * frozen quantizer, base never re-assigned). All-cells search over
    * the appended artifact must equal the FULL-corpus brute oracle —
    * the proof that append maintenance loses nothing.
    */
  private def ivfRefreshGate(s: SparkSession, d: String): DataFrame = {
    val baseStore =
      new BaseStore(d, "embeddings", ivfBasePred, "#ivf-append-base")
    val emb = graft.core.Tables(s, d, "embeddings")
    val delta = emb.where(!ivfBasePred)
    val (cells, cents) = graft.dql.DqlArtifacts.ivfRefresh(
      s, baseStore, deltaId = "mod5-tail", delta = delta)
    graft.pipeline.Similarity.ivfTopKProbedOn(cells, cents,
      emb.where(col("vec_id") < 5), 10,
      nProbe = graft.dql.DqlArtifacts.nCells(s, baseStore))
      .orderBy("query_id", "rank")
  }

  /** Band-index maintenance from the registry side (the [[ivfRefreshGate]]
    * pattern on the OTHER shared index artifact): the near-dup band
    * index is SEEDED over the base document subset, the delta arrives
    * as a refresh batch, and [[graft.dql.DqlArtifacts.bandRefresh]]
    * takes the APPEND path (all delta doc ids new → signatures computed
    * for the delta only, base never re-shingled). Pairs read off the
    * appended artifact must equal the FULL-corpus pair oracle — the
    * proof that append maintenance loses nothing.
    */
  private def bandRefreshGate(s: SparkSession, d: String): DataFrame = {
    val baseStore = bandBaseStore(d)
    val delta = graft.core.Tables(s, d, "documents").where(!bandBasePred)
    val refreshed = graft.dql.DqlArtifacts.bandRefresh(
      s, baseStore, deltaId = "mod5-docs", delta = delta)
    graft.pipeline.Dedup.minhashPairsFromIndex(refreshed, 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** Gram-artifact maintenance from the registry side: the maintainable
    * counts artifact seeds over the base subset, the delta folds in with
    * one keyed full-outer merge
    * ([[graft.dql.DqlArtifacts.gramRefresh]]'s append path — the base
    * corpus is never re-scanned), and the span summary read against the
    * refreshed duplicated-hash projection must equal the FULL-corpus
    * rebuild oracle.
    */
  private def gramRefreshGate(s: SparkSession, d: String): DataFrame = {
    val baseStore = bandBaseStore(d)
    val delta = graft.core.Tables(s, d, "documents").where(!bandBasePred)
    val refreshed = graft.dql.DqlArtifacts.gramRefresh(
      s, baseStore, deltaId = "mod5-docs", delta = delta, n = 8)
    graft.pipeline.Dedup.substringSpansWith(
      graft.core.Tables(s, d, "documents"), refreshed, 8)
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------- oracle

  private def ser(body: String) =
    s"WITH series AS (${SeriesOps.seriesSql})\n$body"

  private def winAgg(key: String, metricCond: String, w: Long, agg: String,
                     t0: Long, t1: Long, valueExpr: String = "value"): String =
    ser(s"""SELECT '${nameOf(key)}' AS name, metric,
       |       ${Exact.wstartSql("ts_ms", w)} AS ts_ms, $agg AS value
       |FROM (SELECT metric, ts_ms, $valueExpr AS value FROM series
       |      WHERE $metricCond AND ts_ms >= $t0 AND ts_ms < $t1)
       |GROUP BY 1, 2, 3 ORDER BY name, metric, ts_ms""".stripMargin)

  private val kth50 =
    "list_sort(list(value))[GREATEST(1, CAST(CEIL(0.5 * COUNT(value)) AS BIGINT))]"

  def oracle: Map[String, String] = Map(
    "dql_select_avg" -> winAgg("dql_select_avg", "metric = 'purchase.3'",
      Hour, Exact.davgSql("value"), T0, T1),
    "dql_chain" -> winAgg("dql_chain", "metric = 'purchase.3'",
      Hour, Exact.dsumSql("value"), T0, T1, valueExpr = "value / 2.0"),
    "dql_infix_arith" -> ser(
      s"""SELECT '${nameOf("dql_infix_arith")}' AS name, metric, ts_ms,
         |       value * 2.0 AS value
         |FROM series WHERE metric = 'purchase.3'
         |  AND ts_ms >= $T0 AND ts_ms < $T1
         |ORDER BY name, metric, ts_ms""".stripMargin),
    "dql_infix_comb" -> ser(
      s"""SELECT '${nameOf("dql_infix_comb")}' AS name, 'quotient' AS metric,
         |       ts_ms, CASE WHEN b = 0 THEN a ELSE a / b END AS value
         |FROM (
         |  SELECT ${Exact.wstartSql("ts_ms", Day)} AS ts_ms,
         |    MAX(CASE WHEN metric = 'purchase.3' THEN v END) AS a,
         |    MAX(CASE WHEN metric = 'error.3' THEN v END) AS b
         |  FROM (SELECT metric, ${Exact.wstartSql("ts_ms", Day)} AS ts_ms,
         |               ${Exact.davgSql("value")} AS v
         |        FROM series WHERE metric IN ('purchase.3', 'error.3')
         |          AND ts_ms >= $T0 AND ts_ms < $T1
         |        GROUP BY 1, 2) GROUP BY 1)
         |ORDER BY ts_ms""".stripMargin),
    "dql_sget_glob" -> winAgg("dql_sget_glob", "mtype = 'purchase'",
      Day, Exact.davgSql("value"), T0, T1),
    "dql_lookup_where" -> winAgg("dql_lookup_where",
      "mtype = 'purchase' AND muser = 3", Hour, Exact.davgSql("value"), T0, T1),
    "dql_group_by" -> ser(
      s"""SELECT '${nameOf("dql_group_by")}' AS name,
         |       CAST(muser AS VARCHAR) AS metric, ts_ms,
         |       ${Exact.davgSql("value")} AS value
         |FROM series
         |WHERE mtype = 'purchase' AND (muser = 1 OR muser = 2)
         |  AND ts_ms >= $T0 AND ts_ms < $T1
         |GROUP BY 1, 2, 3 ORDER BY name, metric, ts_ms""".stripMargin),
    "dql_group_diff" -> ser(
      s"""SELECT '${nameOf("dql_group_diff")}' AS name,
         |       mtype AS metric, ts_ms,
         |       list_reduce(
         |         list_transform(list_sort(list({'m': metric, 'v': value})),
         |                        x -> x.v),
         |         (acc, x) -> acc - x) AS value
         |FROM series
         |WHERE mtype = 'purchase' AND (muser = 1 OR muser = 2)
         |  AND ts_ms >= $T0 AND ts_ms < $T1
         |GROUP BY 1, 2, 3 ORDER BY name, metric, ts_ms""".stripMargin),
    "dql_top" -> ser(
      s""", agg AS (
         |  SELECT '${nameOf("dql_top")}' AS name, metric,
         |         ${Exact.wstartSql("ts_ms", Day)} AS ts_ms,
         |         ${Exact.davgSql("value")} AS value
         |  FROM series WHERE mtype = 'purchase'
         |    AND ts_ms >= $T0 AND ts_ms < $T1 GROUP BY 1, 2, 3),
         |scores AS (SELECT name, metric, ${Exact.davgSql("value")} AS score
         |           FROM agg GROUP BY 1, 2),
         |winners AS (SELECT metric FROM scores
         |            ORDER BY score DESC, name, metric LIMIT 3)
         |SELECT * FROM agg WHERE metric IN (SELECT metric FROM winners)
         |ORDER BY name, metric, ts_ms""".stripMargin)
      .replace("(" + SeriesOps.seriesSql + ")\n,", "(" + SeriesOps.seriesSql + "),"),
    "dql_shift" -> ser(
      s"""SELECT '${nameOf("dql_shift")}' AS name, metric,
         |       ${Exact.wstartSql("(ts_ms + " + Day + ")", Hour)} AS ts_ms,
         |       ${Exact.davgSql("value")} AS value
         |FROM series WHERE metric = 'purchase.3'
         |  AND ts_ms + $Day >= ${T0 + 7 * Day} AND ts_ms + $Day < ${T0 + 14 * Day}
         |GROUP BY 1, 2, 3 ORDER BY name, metric, ts_ms""".stripMargin),
    "dql_naming" -> ser(
      s"""SELECT 'rate.purchase.3' AS name, metric, ts_ms, value,
         |       '{"team": "infra"}' AS metadata FROM (
         |${graft.ops.Trans.derivateSql(
             s"(SELECT * FROM series WHERE metric = 'purchase.3' AND ts_ms >= $T0 AND ts_ms < $T1)")}
         |) ORDER BY name, metric, ts_ms""".stripMargin),
    "dql_conf" ->
      s"""${SeriesOps.gapFilledSql(D5, D6)}
         |SELECT '${nameOf("dql_conf")}' AS name, metric,
         |       ${Exact.wstartSql("ts_ms", Hour)} AS ts_ms,
         |       COUNT(CASE WHEN confidence > 0.5 THEN 1 END) AS value
         |FROM gapfilled WHERE metric = 'purchase.3'
         |GROUP BY 1, 2, 3 ORDER BY name, metric, ts_ms""".stripMargin,
    "dql_percentile_int" -> winAgg("dql_percentile_int",
      "metric = 'purchase.3'", Hour, kth50, T0, T1),
    // oracle is the PLAIN discrete kth: the salted two-phase shuffle shape
    // must be value-identical to the unsalted one
    "dql_percentile_salted" -> winAgg("dql_percentile_salted",
      "metric = 'purchase.3'", Hour,
      "list_sort(list(value))[GREATEST(1, CAST(CEIL(0.9 * COUNT(value)) AS BIGINT))]",
      T0, T1),
    "dql_percentile_auto" -> winAgg("dql_percentile_auto",
      "metric = 'purchase.3'", 14 * Day,
      "list_sort(list(value))[GREATEST(1, CAST(CEIL(0.9 * COUNT(value)) AS BIGINT))]",
      T0, T1),
    "dql_hist_auto" -> winAgg("dql_hist_auto",
      "metric = 'purchase.3' AND CAST(ROUND(value, 0) AS BIGINT) BETWEEN 0 AND 1000",
      14 * Day,
      "CAST(list_sort(list(CAST(ROUND(value, 0) AS BIGINT)))" +
        "[GREATEST(1, CAST(CEIL(0.9 * COUNT(value)) AS BIGINT))] AS DOUBLE)",
      T0, T1),
    // hdr recording mirror: out-of-range points (round(v) outside
    // [0, htv]) are DROPPED before aggregation, exactly as the Spark
    // compile filters them (reference rejects them at record time)
    "dql_hist" -> winAgg("dql_hist",
      "metric = 'purchase.3' AND CAST(ROUND(value, 0) AS BIGINT) BETWEEN 0 AND 1000",
      Hour,
      "CAST(list_sort(list(CAST(ROUND(value, 0) AS BIGINT)))" +
        "[GREATEST(1, CAST(CEIL(0.9 * COUNT(value)) AS BIGINT))] AS DOUBLE)",
      T0, T1),
    "dql_hist_htv" -> winAgg("dql_hist_htv",
      "metric = 'purchase.3' AND CAST(ROUND(value, 0) AS BIGINT) BETWEEN 0 AND 100",
      Hour,
      "CAST(list_sort(list(CAST(ROUND(value, 0) AS BIGINT)))" +
        "[GREATEST(1, CAST(CEIL(0.9 * COUNT(value)) AS BIGINT))] AS DOUBLE)",
      T0, T1),
    // HDR bucket-math mirror (sf=1 → sub-bucket count 32, magnitude 5):
    // each recorded value maps to its bucket's HIGHEST EQUIVALENT value
    // (v < 32 exact; else b = bit_length(v)-5 low bits saturate), then the
    // discrete p90 over the transformed multiset equals the sketch's
    // cumulative-bucket quantile (hev is monotone in bucket index)
    "dql_hist_hdr" -> ser(
      s"""SELECT '${nameOf("dql_hist_hdr")}' AS name, metric,
         |       ${Exact.wstartSql("ts_ms", Hour)} AS ts_ms,
         |       CAST(list_sort(list(hev))
         |         [GREATEST(1, CAST(CEIL(0.9 * COUNT(hev)) AS BIGINT))]
         |         AS DOUBLE) AS value
         |FROM (SELECT metric, ts_ms,
         |        CASE WHEN iv < 32 THEN iv
         |             ELSE (((iv >> b) + 1) << b) - 1 END AS hev
         |      FROM (SELECT metric, ts_ms,
         |              CAST(ROUND(value, 0) AS BIGINT) AS iv,
         |              GREATEST(length(bin(CAST(ROUND(value, 0) AS BIGINT))) - 5, 0) AS b
         |            FROM series
         |            WHERE metric = 'purchase.3'
         |              AND ts_ms >= $T0 AND ts_ms < $T1
         |              AND CAST(ROUND(value, 0) AS BIGINT) BETWEEN 0 AND 1000))
         |GROUP BY 1, 2, 3 ORDER BY name, metric, ts_ms""".stripMargin),
    "conf_comb" ->
      s"""${SeriesOps.gapFilledSql(D5, D6, Some("purchase"))}
         |SELECT '${nameOf("conf_comb")}' AS name, 'sum' AS metric, ts_ms,
         |       AVG(confidence) AS value
         |FROM gapfilled WHERE metric IN ('purchase.1', 'purchase.2')
         |GROUP BY 1, 2, 3 ORDER BY name, metric, ts_ms""".stripMargin,
    "conf_comb_quot" ->
      s"""${SeriesOps.gapFilledSql(D5, D6, Some("purchase"))}
         |SELECT '${nameOf("conf_comb_quot")}' AS name, 'quotient' AS metric,
         |       ts_ms, AVG(confidence) AS value
         |FROM gapfilled WHERE metric IN ('purchase.1', 'purchase.2')
         |GROUP BY 1, 2, 3 ORDER BY name, metric, ts_ms""".stripMargin,
    "dql_alias" -> winAgg("dql_alias", "metric = 'purchase.3'", Hour,
      "MAX(value)", T0, T1),
    "dql_multi" -> ser(
      s"""SELECT name, metric, ts_ms, value FROM (
         |  SELECT '${nameOf("dql_multi", 0)}' AS name, metric,
         |         ${Exact.wstartSql("ts_ms", Day)} AS ts_ms,
         |         ${Exact.davgSql("value")} AS value
         |  FROM series WHERE metric = 'purchase.3'
         |    AND ts_ms >= $T0 AND ts_ms < $T1 GROUP BY 1, 2, 3
         |  UNION ALL
         |  SELECT '${nameOf("dql_multi", 1)}' AS name, metric,
         |         ${Exact.wstartSql("ts_ms", Day)} AS ts_ms,
         |         MAX(value) AS value
         |  FROM series WHERE metric = 'purchase.3'
         |    AND ts_ms >= $T0 AND ts_ms < $T1 GROUP BY 1, 2, 3)
         |ORDER BY name, metric, ts_ms""".stripMargin),
    "dql_last_ago" -> winAgg("dql_last_ago", "metric = 'purchase.3'",
      Day, Exact.davgSql("value"), NowMs - 14 * Day, NowMs - 7 * Day),
    "dql_after_for" -> winAgg("dql_after_for", "metric = 'purchase.3'",
      Day, "MAX(value)", D5, D5 + 7 * Day),
    "dql_date_points" -> winAgg("dql_date_points", "metric = 'purchase.3'",
      Day, Exact.davgSql("value"), D5, D5 + 10 * Day),
    "dql_all_from" -> winAgg("dql_all_from",
      "mtype = 'error' AND muser = 2", Day, Exact.dsumSql("value"), T0, T1),
    "dql_nested_agg" -> ser(
      s""", h AS (
         |  SELECT metric, ${Exact.wstartSql("ts_ms", Hour)} AS ts_ms,
         |         ${Exact.davgSql("value")} AS value
         |  FROM series WHERE metric = 'purchase.3'
         |    AND ts_ms >= $T0 AND ts_ms < $T1 GROUP BY 1, 2)
         |SELECT '${nameOf("dql_nested_agg")}' AS name, metric,
         |       ${Exact.wstartSql("ts_ms", Day)} AS ts_ms,
         |       ${Exact.dsumSql("value")} AS value
         |FROM h GROUP BY 1, 2, 3 ORDER BY name, metric, ts_ms""".stripMargin),
    "dql_trans_after_agg" -> ser(
      s""", daily AS (
         |  SELECT metric, mtype, muser, ${Exact.wstartSql("ts_ms", Day)} AS ts_ms,
         |         ${Exact.davgSql("value")} AS value
         |  FROM series WHERE metric = 'purchase.3'
         |    AND ts_ms >= $T0 AND ts_ms < $T1 GROUP BY 1, 2, 3, 4)
         |SELECT '${nameOf("dql_trans_after_agg")}' AS name, metric, ts_ms, value
         |FROM (${graft.ops.Trans.derivateSql("daily")})
         |ORDER BY name, metric, ts_ms""".stripMargin),
    "dql_events" ->
      s"""SELECT event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_type, value
         |FROM events
         |WHERE CAST(epoch_ms(ts) AS BIGINT) >= ${NowMs - 31 * Day}
         |  AND CAST(epoch_ms(ts) AS BIGINT) < $NowMs
         |  AND CAST(json_extract_string(props, '$$.k') AS DOUBLE) > 50
         |  AND NOT event_type = 'view'
         |ORDER BY event_id""".stripMargin,
    // pipeline table functions: the DQL spelling dispatches to the same
    // operators, so the oracles ARE the operators' existing mirrors
    "dql_pipeline_dedup" ->
      (graft.pipeline.Dedup.exactSql + "\nORDER BY text_hash"),
    "dql_pipeline_minhash" -> graft.pipeline.Dedup.minhashPairsSql(0.5),
    "dql_pipeline_hot_bands" -> graft.pipeline.Dedup.hotBandsSql(1),
    "dql_pipeline_quality" -> graft.pipeline.TextOps.qualitySql,
    // Dim comes from the shared testdata constant (r15 advisory: the
    // literal 64 here risked silent drift against the sim gates)
    "dql_pipeline_simtopk" -> graft.pipeline.Similarity.bruteTopKSql(
      graft.core.Tables.EmbeddingDim, 10,
      "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5"),
    // sizing-invariance pin: the nCells=5 index-backed dispatch must
    // still hash-match the BRUTE mirror (all-cells coverage is exact
    // at any sizing)
    "dql_pipeline_simtopk_sized" -> graft.pipeline.Similarity.bruteTopKSql(
      graft.core.Tables.EmbeddingDim, 10,
      "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5"),
    // append-maintenance pin: search over the base-seeded artifact
    // APPENDED with the delta (frozen quantizer) ≡ the FULL-corpus
    // brute oracle — the refresh policy loses nothing on the append
    // path
    "dql_pipeline_simtopk_refresh" ->
      graft.pipeline.Similarity.bruteTopKSql(
        graft.core.Tables.EmbeddingDim, 10,
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5"),
    // band-index append-maintenance pin (the simtopk_refresh posture on
    // the near-dup artifact): pairs read off the base-seeded index
    // APPENDED with the delta ≡ the FULL-corpus pair oracle
    "dql_pipeline_neardup_refresh" ->
      graft.pipeline.Dedup.minhashPairsSql(0.5),
    // gram-artifact append-maintenance pin: spans read against the
    // base-seeded counts artifact MERGED with the delta ≡ the
    // FULL-corpus rebuild oracle
    "dql_pipeline_spans_refresh" ->
      graft.pipeline.Dedup.substringSpansSql(8),
    "dql_pipeline_simtopk_ivf" -> graft.pipeline.Similarity.bruteTopKSql(
      graft.core.Tables.EmbeddingDim, 5,
      "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 12"),
    // query sets are derived the same way the engine derives them (a
    // vec_id bound over the table), not a literal id list: ids need not
    // be contiguous from 0, and a sparse fixture would otherwise make
    // the two sides silently compare different query sets (r16 advisory)
    "dql_pipeline_simtopk_probe" ->
      graft.pipeline.Similarity.ivfTopKProbedSql(
        graft.dql.DqlArtifacts.NCells, graft.core.Tables.EmbeddingDim, 5, 3,
        "SELECT vec_id FROM embeddings WHERE vec_id < 12"),
    "dql_pipeline_simtopk_sq8" ->
      graft.pipeline.Similarity.ivfSq8QuantTopKProbedSql(
        graft.dql.DqlArtifacts.NCells, graft.core.Tables.EmbeddingDim, 5, 3,
        "SELECT vec_id FROM embeddings WHERE vec_id < 12"),
    "dql_pipeline_simtopk_pq" ->
      graft.pipeline.Similarity.ivfPqTopKProbedSql(
        graft.dql.DqlArtifacts.NCells, graft.dql.DqlArtifacts.PqM,
        graft.dql.DqlArtifacts.PqKsub, graft.core.Tables.EmbeddingDim, 5, 3,
        "SELECT vec_id FROM embeddings WHERE vec_id < 12"),
    "dql_pipeline_rrf" -> graft.pipeline.Similarity.rrfFuseSql(
      graft.pipeline.Similarity.ivfTopKSql(graft.dql.DqlArtifacts.NCells,
        graft.core.Tables.EmbeddingDim, 10,
        "SELECT vec_id FROM embeddings WHERE vec_id < 12"),
      graft.pipeline.Similarity.lshMultiProbeTopKSql(6,
        graft.core.Tables.EmbeddingDim, 10,
        "SELECT vec_id FROM embeddings WHERE vec_id < 12"),
      5),
    "dql_pipeline_simtopk_brute" -> graft.pipeline.Similarity.bruteTopKSql(
      graft.core.Tables.EmbeddingDim, 10,
      "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5"),
    "dql_pipeline_simrange_lsh" ->
      graft.pipeline.Similarity.rangeSearchLshSql(
        graft.dql.DqlArtifacts.Bits, graft.core.Tables.EmbeddingDim, 0.1,
        "SELECT vec_id FROM embeddings WHERE vec_id < 5"),
    "dql_pipeline_classifier" ->
      graft.pipeline.Classifier.heldOutScoreSql(32, 10, 0.001, 55, 0.1),
    "dql_pipeline_thresh" ->
      graft.pipeline.Classifier.heldOutThresholdScanSql(
        32, 10, 0.001, 55, 0.1, 100),
    "dql_pipeline_langid" -> graft.pipeline.TextOps.langidSql,
    "dql_pipeline_simhash" -> graft.pipeline.Dedup.simhashPairsSql(8),
    "dql_pipeline_ngram" ->
      graft.pipeline.Dedup.ngramJaccardPairsSql(0.3),
    "dql_pipeline_embed" -> graft.pipeline.Dedup.embedNearDupSql(
      6, graft.core.Tables.EmbeddingDim, 0.3),
    "dql_pipeline_tokens" -> graft.pipeline.TextOps.tokensSql,
    "dql_pipeline_fingerprint" -> graft.pipeline.TextOps.fingerprintSql,
    "dql_pipeline_gopher" ->
      graft.pipeline.TextOps.gopherRulesSql(
        stopList = graft.pipeline.TextOps.Stopwords),
    "dql_pipeline_scrub" -> graft.pipeline.Dedup.substringScrubSql(8),
    "dql_pipeline_scrub_kf" ->
      graft.pipeline.Dedup.substringScrubKeepFirstSql(8),
    "dql_pipeline_simrange" -> graft.pipeline.Similarity.rangeSearchSql(
      graft.core.Tables.EmbeddingDim, 0.3,
      "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5"),
    "dql_pipeline_simrange_brute" ->
      graft.pipeline.Similarity.rangeSearchSql(
        graft.core.Tables.EmbeddingDim, 0.3,
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5"))

  // `dql_conf` uses the full-catalog gap-fill (all mtypes) restricted to
  // one metric in the outer query; the Spark side densifies only matching
  // series — both sides see identical purchase.3 slots.
}
