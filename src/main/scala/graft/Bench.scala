package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): runs every SparkEntry query
  * on `SPARK_GRAFT_SF_DIR`, prints ONE compact JSON line with the total and
  * headline per-query seconds.
  *
  * Measurement notes: a warmup query (not timed) absorbs session/codegen
  * startup; each query is forced through the `noop` sink so the FULL plan
  * executes (a bare `count()` lets Spark prune projections and would
  * under-measure narrow transforms).
  *
  * Output-size note: the driver captures a bounded ~2000-byte tail of the
  * run's output, so stdout carries only two small lines: `{"failed":…}`
  * (no "metric" key, so contract-shape parsers skip it) and the compact
  * contract line — total over ALL queries + a fixed headline subset,
  * first-run seconds — which prints LAST. The full per-query detail map
  * (each value `[compile_s, exec_s, second_run_s]`, see the timed loop)
  * is written to `BENCH_DETAIL.json` in the repo root instead: round 6's
  * single detail line and round 7's per-family chunking both lost most
  * triples to the tail window, so the artifact, not stdout, is now the
  * recoverable record.
  *
  * Self-diagnostics (rounds 8–9 lesson: driver-box artifacts twice showed
  * 2–20× inflated times that only a manual quiet-box re-run could
  * adjudicate): `BENCH_DETAIL.json` additionally carries
  *
  *   - `"diag"`: per query, per run, the [[BenchDiag]] task-metric deltas
  *     (spill, GC, input/shuffle bytes, task vs CPU ms, peak execution
  *     memory) plus storage/heap/loadavg gauges — enough to attribute an
  *     outlier to GC pressure, cache eviction, or external box load from
  *     the artifact alone (attribution recipe in the BenchDiag scaladoc);
  *   - `"probes"`: a FIXED-WORK calibration probe (sum(length(text)) over
  *     the documents table — one scan, no shuffle, no cache interplay)
  *     timed before the first query and at every query-family boundary.
  *     Its work never changes, so its seconds are a direct in-band trace
  *     of environment pressure across the run; any query outlier can be
  *     cross-checked against the nearest probes;
  *   - `"env"`: run-level constants (cpus, heap max) and start/end
  *     loadavg;
  *   - `"outliers"`: when a run exceeds 3× its same-family sibling median
  *     (above a 1 s floor), the loop fires the calibration probe ADJACENT
  *     to the outlier and a third run of the query, both recorded here —
  *     slow run3 + slow probe = box event, slow run3 + fast probe = real
  *     regression (the round-12 aggr_min/median/percentile cluster was
  *     unadjudicable without this).
  */
object Bench {

  /** one representative per operator family (fixed, order-stable) */
  val Headline: Seq[String] = Seq(
    "tpch_q1", "tpch_q5", "aggr_avg", "aggr_percentile", "trans_derivate",
    "comb_diff", "group_user_sum", "limit_top", "events_filter_regex",
    "hist_p90", "gapfill_native", "shift_1d", "naming_pvar", "dql_multi",
    "dql_sget_glob", "dedup_exact", "dedup_minhash", "dedup_simhash",
    "dedup_ngram", "dedup_embed", "dedup_canonical", "corpus_decisions",
    "sim_topk_brute", "sim_topk_ivf", "sim_topk_lsh", "text_fingerprint",
    "text_langid", "text_quality", "text_tokens", "mm_decode",
    "asof_series", "range_clicks", "decon_ngram", "curate_topk")

  private def r3(v: Double): String = f"$v%.3f"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // dev-only focus filter (the driver passes no args): run just these
    // comma-separated queries under the full bench protocol
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(",").toSet) else None
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing stays parallelism-first (the Spark default).
      // Byte-sized coalescing (parallelismFirst=false, r20 verdict #3 /
      // guide §2.6) was A/B'd in r21 over the 34 headline gates under
      // the full bench protocol and REJECTED: 0 gates improved, 22
      // regressed >10% steady (comb_diff 0.32 → 1.19 s, corpus_decisions
      // 1.22 → 2.87 s) — this suite's exchanges are byte-small but their
      // post-shuffle stages CARRY COMPUTE (exact-decimal final
      // aggregations, verify joins), and coalescing them to one
      // partition serializes that compute. Advisory-size coalescing
      // targets shuffle-bound stages; these are not.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // fixture pins: the timed gates must run the same index sizing
      // their oracles bake in (DqlArtifacts auto-scales when unset)
      .config("spark.graft.dql.sim.ncells", graft.dql.DqlArtifacts.NCells)
      .config("spark.graft.dql.sim.bits", graft.dql.DqlArtifacts.Bits)
      // generated-class cache DERIVED from the registered gate surface
      // (static conf, default 100 LRU entries): multi-stage plans compile
      // far more distinct classes than 100, so at the default the
      // warmup's compilations are EVICTED before their timed gates run
      // and run1 pays a full Janino re-compile — measured r17 on
      // dedup_minhash_append: run1 codegen 14.0 s (48 classes, 20.7 s
      // official) when evicted vs 0.4 s (1.25 s official) when cached.
      // Derivation + sizing evidence in core/Tuning (r17 verdict #5:
      // the prior literal 2000 was a fixture constant of exactly the
      // class the round had eliminated elsewhere); BenchDiag's headroom
      // warning below guards the code-cache side of the same cliff.
      .config("spark.sql.codegen.cache.maxEntries",
        graft.core.Tuning.codegenCacheEntries(SparkEntry.queries.size))
      // Spark 4 keys the generated-class cache by (context classloader,
      // source); session ARTIFACT ISOLATION (default on) hands every
      // streaming query's cloned session a fresh isolated classloader, so
      // identical stream plans re-Janino'd (and re-C2'd) on EVERY run —
      // measured r18 via cache-key forensics: stream_avg run2 compiled 17
      // units, all "scope drift" (same body, new ExecutorClassLoader);
      // with isolation off: 0. The harness is single-tenant and adds no
      // session artifacts, so isolation buys it nothing; multi-tenant
      // deployments keep the default.
      .config("spark.sql.artifact.isolation.enabled",
        sys.env.getOrElse("SPARK_GRAFT_ARTIFACT_ISOLATION", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val diag = new BenchDiag(spark)

    // Box-state gate (r13 lesson: the committed headline was captured at
    // start loadavg 5.8 and the +22 s round-over-round "regression" was
    // pure environment). Before ANY work — warmup included, since the
    // point is to measure EXTERNAL load — wait, bounded, for the 1-min
    // loadavg to fall under a threshold; record the pre-settle reading,
    // the wait spent, and whether the box actually settled in the `env`
    // block, so the artifact says on its face whether totals are
    // round-over-round comparable or must be read against the probes.
    val settleThresholdX100 = 300L // loadavg 3.0 on a 32-cpu box

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // fixed-work calibration probe: one linear scan, no shuffle, reads no
    // cache — its seconds vary ONLY with environment pressure (box load,
    // GC, IO contention), so probing at family boundaries leaves an
    // in-band env trace next to the queries it brackets
    def probeDf = spark.read
      .parquet(java.nio.file.Paths.get(sfDir, "documents.parquet").toString)
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text"))))
    val probes = scala.collection.mutable.ArrayBuffer
      .empty[(String, Double, Seq[(String, Long)])]
    def probe(at: String): Double = {
      val m0 = diag.mark()
      val t0 = System.nanoTime()
      try {
        force(probeDf)
        val sec = (System.nanoTime() - t0) / 1e9
        probes += ((at, sec, diag.measure(m0)))
        sec
      } catch { case t: Throwable =>
        // diagnostics must never take the bench down with them
        System.err.println(s"[bench] probe $at failed: ${t.getMessage}")
        -1.0
      }
    }
    // running session baseline: the MINIMUM probe so far — fixed work, so
    // its fastest observation is the quiet-box cost
    def probeBaselineNow: Double = {
      val ok = probes.collect { case (_, s, _) if s > 0 => s }
      if (ok.isEmpty) Double.MaxValue else ok.min
    }

    // bounded settle gate, reused at three protocol points (r17 verdict
    // #1: the one-shot start gate passed after a momentary dip, load
    // returned mid-run, and a poisoned official shipped as the number of
    // record): (1) before any work, (2) mid-run when a family-boundary
    // probe shows the box re-loaded, (3) before each deferred re-run of
    // an over-line official. Returns (waited ms, settled?).
    //
    // probeExit (r19 verdict #6): the bench's OWN decaying 1-min loadavg
    // reads >3 mid-run on a quiet box, so a loadavg-gated mid-run settle
    // can burn its full budget while the box is already fine (r19's
    // `dedup+` pause: 90 s spent, re-probe then read 0.169 s). With
    // probeExit the wait re-runs the fixed-work probe every 15 s once
    // past minMs and exits settled the moment it reads healthy — the
    // probe measures actual contention, loadavg only annotates. Never
    // used at the start gate (no baseline exists yet; the gate's point
    // is measuring external load before any work).
    def settle(tag: String, minMs: Long, maxMs: Long,
               probeExit: Boolean = false): (Long, Boolean) = {
      var waited = 0L
      var probeOk = false
      while (!probeOk &&
             (waited < minMs ||
              (diag.loadAvgX100 > settleThresholdX100 && waited < maxMs))) {
        if (diag.loadAvgX100 > settleThresholdX100)
          System.err.println(
            s"[bench] box loaded at $tag (loadavg_x100=${diag.loadAvgX100}" +
              s" > $settleThresholdX100) — settling, waited ${waited / 1000}s")
        Thread.sleep(5000)
        waited += 5000
        if (probeExit && waited >= minMs && waited % 15000 == 0 &&
            probeBaselineNow < Double.MaxValue) {
          val ps = probe(s"settle:$tag")
          probeOk = BenchProtocol.probeHealthy(ps, probeBaselineNow)
          if (probeOk)
            System.err.println(
              s"[bench] settle $tag: probe healthy (${r3(ps)}s) after " +
                s"${waited / 1000}s — box quiet, proceeding")
        }
      }
      val ok = probeOk || diag.loadAvgX100 <= settleThresholdX100
      if (!ok)
        System.err.println(
          s"[bench] box did NOT settle at $tag within ${maxMs / 1000}s " +
            s"(loadavg_x100=${diag.loadAvgX100})")
      (waited, ok)
    }
    val loadPreSettle = diag.loadAvgX100
    // minimum 30 s even when the gate passes immediately: the 1-min
    // loadavg is a trailing indicator, so a burst that just ended can
    // read low while the box is still draining (r15's driver run settled
    // in 10 s and the round's totals moved 20% on identical plans)
    val (settleWaitMs, settledOk) = settle("start", 30000L, 180000L)
    val settled = if (settledOk) 1L else 0L
    if (settled == 0L)
      System.err.println(
        "[bench] start gate unsettled — artifact annotated; totals must " +
          "be read against the calibration probes")
    // mid-run load re-check (r17 verdict, round-18 item 1a): the r17
    // driver run settled once at the start, external load returned
    // mid-run, and nine officials shipped 15–145× their quiet cost. At
    // every family boundary the fixed-work probe already runs; when it
    // reads >2× the session baseline the box is re-loaded — PAUSE the
    // sweep behind the settle gate and re-probe before continuing.
    // Bounded (pause budget, per-pause cap) so a permanently co-loaded
    // box degrades to the annotated r17 behavior instead of hanging.
    // (at, probeSec, settleWaitMs, settledFlag, reprobeSec, blipFlag)
    val pauses = scala.collection.mutable.ArrayBuffer
      .empty[(String, Double, Long, Long, Double, Long)]
    var pauseBudget = 8
    def probeAtBoundary(at: String): Unit = {
      val sec = probe(at)
      val base = probeBaselineNow
      if (sec > 0 && base < Double.MaxValue &&
          !BenchProtocol.probeHealthy(sec, base) && pauseBudget > 0) {
        // probe-first (r18 verdict #3): re-probe BEFORE settling — r18's
        // pauses[0] burned its full 90 s at the `comb` boundary when the
        // re-probe then read healthy in 0.3 s; the deferred pass already
        // follows this rule (BenchProtocol.settleNeeded, spec-pinned)
        val re0 = probe(s"$at:recheck")
        if (!BenchProtocol.settleNeeded(re0, probeBaselineNow)) {
          // a free blip (healthy re-probe, ~0.3 s spent) must not consume
          // the pause budget — the budget bounds SETTLE wall time, and
          // eight blips would otherwise disable settling for a real load
          // event later in the sweep (r19 review). Recorded with
          // blip=1/settled=0 (r19 advice: a blip is a SKIPPED settle,
          // not a successful one — consumers counting `settled` must
          // not see it)
          System.err.println(
            s"[bench] probe at $at ran ${r3(sec)}s vs baseline ${r3(base)}s " +
              s"but the immediate re-probe is healthy (${r3(re0)}s) — blip, " +
              "no settle")
          pauses += ((at, sec, 0L, 0L, re0, 1L))
        } else {
          pauseBudget -= 1
          System.err.println(
            s"[bench] probe at $at ran ${r3(sec)}s vs baseline ${r3(base)}s " +
              s"(re-probe ${r3(re0)}s) — box re-loaded, pausing to settle")
          val (waited, ok) = settle(s"midrun:$at", 10000L, 90000L,
            probeExit = true)
          val re = probe(s"$at:resettled")
          pauses += ((at, sec, waited, if (ok) 1L else 0L, re, 0L))
        }
      }
    }

    // warmup: JVM/codegen/parquet-footer caches (not timed), plus the two
    // memoized MATERIALIZED artifacts — the series table (core/Layout) and
    // the minhash near-dup pair set (PipelineQueries.minhashPairs), both of
    // which production queries read instead of re-deriving, so their
    // one-off build cost is storage provisioning, not query time.
    // (Without this, the alphabetically-first consumer — corpus_decisions —
    // was charged the entire pair-set build.) Each step fails alone: one
    // broken warmup must not silently skip the rest.
    // each warmup step is TIMED and the sanctioned artifacts it
    // materializes are attributed to it: the step's seconds are those
    // artifacts' COLD (provisioning/build) cost, published in the
    // artifact next to the WARM numbers of every timed gate that reads
    // them — the {cold, warm} split the sanctioned-artifact cost model
    // promises (r15 verdict #2)
    val provisioning = scala.collection.mutable.ArrayBuffer
      .empty[(String, Double)]
    val artifactStep = scala.collection.mutable.Map.empty[String, String]
    def warm(step: String)(body: => Unit): Unit = {
      val before = graft.core.Caches.sanctionedNames(spark).toSet
      val t0 = System.nanoTime()
      val (_, _, builds) = graft.core.Caches.traceArtifacts {
        try body catch { case t: Throwable =>
          System.err.println(s"[bench] warmup $step failed: ${t.getClass.getName}: ${t.getMessage}")
        }
      }
      provisioning += ((step, (System.nanoTime() - t0) / 1e9))
      (graft.core.Caches.sanctionedNames(spark).filterNot(before) ++ builds)
        .foreach(a => artifactStep.getOrElseUpdate(a, step))
    }
    warm("tpch_q1")(force(SparkEntry.queries("tpch_q1")(spark, sfDir)))
    warm("series")(graft.core.SeriesOps.series(spark, sfDir).count())
    warm("dedup_minhash")(force(SparkEntry.queries("dedup_minhash")(spark, sfDir)))
    warm("dedup_ngram")(force(SparkEntry.queries("dedup_ngram")(spark, sfDir)))
    warm("dedup_simhash")(force(SparkEntry.queries("dedup_simhash")(spark, sfDir)))
    // warms the sanctioned near-dup band index (a materialized artifact
    // production firehoses probe — its build is provisioning, not probe
    // cost), the staged replay copies for both source tables, and the
    // streaming machinery's first-run JIT
    warm("stream_neardup")(force(SparkEntry.queries("stream_neardup")(spark, sfDir)))
    warm("stream_avg")(force(SparkEntry.queries("stream_avg")(spark, sfDir)))
    // warms the sanctioned TRAINED online IVFADC index — a batch
    // artifact refreshed on the retrain cadence (two Lloyd rounds +
    // persist), the same provisioning-not-probe-cost story as the band
    // index above; without this the first timed run pays the retrain
    warm("stream_sim_pq_residual_trained")(
      force(SparkEntry.queries("stream_sim_pq_residual_trained")(spark, sfDir)))
    // warms the FROZEN quality-classifier weights (driver-local model
    // state memoized per (session, dir) — trained once on the reference
    // corpus, the fastText-filter posture): the training rounds are
    // model provisioning on the batch refresh cadence, not per-arrival
    // scoring cost, exactly the trained-IVFADC story above
    warm("stream_classifier")(
      force(SparkEntry.queries("stream_classifier")(spark, sfDir)))
    // warms the sanctioned duplicated-gram artifact both span gates
    // probe (batch-refreshed like the band index — its corpus-wide count
    // is provisioning, not per-arrival probe cost)
    warm("stream_spans")(
      force(SparkEntry.queries("stream_spans")(spark, sfDir)))
    // warms the DURABLE bucketed layout (sources/BucketStore — memoized
    // per session, Provisioning-attributed): the one-off bucketed write
    // is storage provisioning amortized across every co-located join,
    // exactly the sanctioned-artifact cost model; without this the timed
    // run1 measures the layout write (4–5 s) instead of the
    // exchange-free join it exists to prove (~0.3 s steady)
    warm("tpch_q12_colocated")(
      force(SparkEntry.queries("tpch_q12_colocated")(spark, sfDir)))
    // warms the DQL registry's memoized similarity indexes (IVF cells +
    // centroids, LSH band index) — sanctioned artifacts every dql sim_*
    // spelling probes; built once per (session, corpus) on the refresh
    // cadence, so their build is provisioning, not query cost
    warm("dql_sim_ivf")(
      force(SparkEntry.queries("dql_pipeline_simtopk")(spark, sfDir)))
    warm("dql_sim_lsh")(
      force(SparkEntry.queries("dql_pipeline_simrange_lsh")(spark, sfDir)))
    // warms the quantized DQL index artifacts (int8 grid + PQ codes/
    // codebooks) — the resident memory-ladder rungs the sim_topk_sq8/pq
    // spellings probe
    warm("dql_sim_sq8")(
      force(SparkEntry.queries("dql_pipeline_simtopk_sq8")(spark, sfDir)))
    warm("dql_sim_pq")(
      force(SparkEntry.queries("dql_pipeline_simtopk_pq")(spark, sfDir)))
    // warms the refresh-policy artifacts (base-subset IVF seed + the
    // appended index): index MAINTENANCE is provisioning on the refresh
    // cadence exactly like the initial build, and the sized-variant
    // index (nCells=5) is its own sanctioned artifact
    warm("dql_sim_ivf_refresh")(
      force(SparkEntry.queries("dql_pipeline_simtopk_refresh")(spark, sfDir)))
    warm("dql_sim_ivf_sized")(
      force(SparkEntry.queries("dql_pipeline_simtopk_sized")(spark, sfDir)))
    // warms the band-index refresh artifacts (base-subset seed + the
    // appended index) — the same maintenance-is-provisioning story as
    // the IVF refresh above, on the near-dup artifact
    warm("dql_band_refresh")(
      force(SparkEntry.queries("dql_pipeline_neardup_refresh")(spark, sfDir)))
    // warms the gram-refresh artifacts (base-subset counts seed + the
    // merged duplicated-hash projection)
    warm("dql_gram_refresh")(
      force(SparkEntry.queries("dql_pipeline_spans_refresh")(spark, sfDir)))
    // warms the keep-first gram artifact (duplicated hashes + canonical
    // keys) the keep-first scrubs — direct and DQL-spelled — probe; the
    // keep-zero artifact is warmed by stream_spans above
    warm("dupgrams_canon")(
      force(SparkEntry.queries("stream_scrub_keepfirst")(spark, sfDir)))
    // warms the DQL registry's frozen quality-classifier weights (the
    // same trained-model provisioning story as stream_classifier above)
    warm("dql_quality_trained")(
      force(SparkEntry.queries("dql_pipeline_classifier")(spark, sfDir)))
    // warms the two FROZEN BPE merge tables (full-corpus and the
    // held-out trainer) — the tokenizer's shipped artifact, trained on
    // the refresh cadence
    warm("bpe_rules")(
      force(SparkEntry.queries("bpe_merges")(spark, sfDir)))
    warm("bpe_rules_heldout")(
      force(SparkEntry.queries("bpe_encode")(spark, sfDir)))
    // warms the FROZEN batch quality-classifier weight sets (the
    // PipelineQueries clsWeights memo — full-corpus unigram, held-out
    // unigram, full-corpus bigram): training is model provisioning on
    // the corpus refresh cadence, so the gradient rounds AND their
    // cold JIT/codegen bill here, and every curate_classifier* gate is
    // a frozen-weights row-local scoring scan (r16 verdict #1: the
    // calibration gate's 9.3 s run1 was the training loop JIT-warming
    // inside the timed window for 1.2 s of steady-state work)
    warm("classifier_weights")(
      force(SparkEntry.queries("curate_classifier")(spark, sfDir)))
    warm("classifier_heldout")(
      force(SparkEntry.queries("curate_classifier_val")(spark, sfDir)))
    warm("classifier_bigram")(
      force(SparkEntry.queries("curate_classifier_bigram")(spark, sfDir)))
    // (r21: the r20 `pca_ladder`/`pca_ladder_k` warm steps are REMOVED —
    // the r20 verdict flagged the frozen-ladder memo as a cost-model
    // change, and the embed_project/_k gates train inline again, so the
    // training belongs inside their timed region)
    // sanctioned JIT warm-up, no artifact: text_quality's r16 official
    // was two cold-codegen runs summed (51 s + 38 s task-time for
    // 6.9 s of steady work on identical input) — the plan is a
    // row-local widened projection whose per-session compile cost is
    // provisioning, not query cost; the step is timed and published
    // like every other provisioning entry
    warm("jit_text_quality")(
      force(SparkEntry.queries("text_quality")(spark, sfDir)))
    // the warm list filled the table schema catalog (core/Tables); drop it
    // so each gate's cold run still pays its schema inference. The
    // sanctioned artifacts stay: the warm list builds them on purpose.
    graft.core.Tables.forgetAll(spark)

    // measurement integrity: Spark's CacheManager substitutes cached plans
    // by canonical equality, so anything the warmup left materialized —
    // builder intermediates, handoff-pinned pair sets — would be silently
    // spliced into the timed plans and the "timing" would measure a cache
    // scan. Release every transient pin now (the two sanctioned artifacts
    // above survive: they model materialized storage that production
    // queries legitimately read), and before each timed query ASSERT that
    // its plan reads no already-materialized cache outside the sanctioned
    // set — a violation marks the query failed rather than reporting a
    // flattering number.
    graft.core.Caches.releaseTransient(spark, blocking = true)

    // box-state reference workloads (r19 verdict #3): r19's quietest
    // drive ran +20% steady over r18's at ZERO engine change, and
    // nothing in the artifact could separate "engine slower" from "box
    // busier" between rounds. Three fixed workloads — a scan (IO +
    // codegen'd agg), a shuffle (exchange + hash agg), and a
    // driver-planning loop (40 identical tiny queries: parse → analyze →
    // plan → schedule, the per-micro-batch stream floor's bottleneck) —
    // run 3× at drive start and 3× at drive end; the per-round
    // distributions land under `boxref` in the detail artifact as the
    // cross-round normalizer: identical work, so any movement is the
    // box. The plan loop reuses ONE expression so after its first
    // compile the codegen cache hits and the measurement is driver
    // latency, not Janino (and the cache takes one entry, not forty).
    def boxrefPass(at: String): Seq[(String, Seq[Double])] = {
      def timeIt(body: => Unit): Double = {
        val t0 = System.nanoTime()
        try { body; (System.nanoTime() - t0) / 1e9 }
        catch { case t: Throwable =>
          System.err.println(
            s"[bench] boxref workload failed at $at: ${t.getMessage}")
          -1.0
        }
      }
      import org.apache.spark.sql.functions.{sum => fsum, avg => favg, col}
      def scanW(): Unit = force(probeDf)
      def shuffleW(): Unit = force(spark.read
        .parquet(java.nio.file.Paths.get(sfDir, "lineitem.parquet").toString)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(fsum(col("l_quantity")), favg(col("l_extendedprice"))))
      def planW(): Unit = {
        var i = 0
        while (i < 40) {
          spark.range(1).selectExpr("id + 1 AS v").collect(); i += 1
        }
      }
      Seq[(String, () => Unit)](
        ("scan", () => scanW()), ("shuffle", () => shuffleW()),
        ("plan", () => planW()))
        .map { case (n, w) => n -> Seq.fill(3)(timeIt(w())) }
    }
    val boxrefStart = boxrefPass("start")

    // one measured pass: plan construction + analysis + contamination
    // assertion timed as `compile`, execution (noop sink) as `exec` —
    // separated so driver-side plan-construction noise is distinguishable
    // from engine regressions in the artifact itself. The sanctioned set
    // is read AT CHECK TIME, not snapshotted before the loop: gates may
    // register sanctioned artifacts mid-run (stream_logprob's frozen LM),
    // and a later consumer of the same lineage (text_logprob) must see
    // them as allowed — a stale snapshot failed exactly that query.
    // per gate: the sanctioned artifacts its run1 plan read WARM (plan
    // introspection), merged with the DRIVER-LOCAL model-state memos no
    // cached relation exposes (trained weights / codebooks ride into the
    // plan as literals) — those gates' cold cost is the named warmup
    // step's seconds
    val memoReads = scala.collection.mutable.Map.empty[String, Seq[String]]
    val driverMemoGates: Map[String, String] = Map(
      "stream_classifier" -> "stream_classifier",
      "stream_sim_pq_residual_trained" -> "stream_sim_pq_residual_trained")
    def runOnce(name: String): (Double, Double) = {
      // pre-construction snapshot: builders warm NOW are contamination if
      // the plan reads them; builders the construction itself fills
      // (training collects inside the timed window) are paid for
      val preWarm = graft.core.Caches.materializedBuilders(spark)
      val c0 = System.nanoTime()
      val (df, reads, _) = graft.core.Caches.traceArtifacts {
        SparkEntry.queries(name)(spark, sfDir)
      }
      val dirty = graft.core.Caches.contaminatedRelations(df,
        graft.core.Caches.sanctionedBuilders(spark), preWarm)
      if (dirty.nonEmpty)
        throw new IllegalStateException(
          s"timed plan reads unsanctioned warm cache: ${dirty.mkString("; ")}")
      if (!memoReads.contains(name))
        memoReads(name) =
          (reads ++ graft.core.Caches.sanctionedReads(df, spark)).distinct
      val c1 = System.nanoTime()
      force(df)
      val e1 = System.nanoTime()
      ((c1 - c0) / 1e9, (e1 - c1) / 1e9)
    }

    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // sanctioned artifacts must be RESIDENT when a timed consumer runs —
    // round 6's corpus_decisions headline (7 s vs 1.2 s steady) was a
    // partial pair-set eviction rebuilt inside the timed region. Re-force
    // (uncounted, before the clock starts) and make it visible.
    def pinSanctioned(at: String): Unit = {
      val reforced = graft.core.Caches.ensureSanctionedResident(spark)
      if (reforced.nonEmpty)
        System.err.println(
          s"[bench] re-materialized evicted sanctioned artifact(s) before " +
            s"$at: ${reforced.mkString("; ")}")
    }
    // per query: [compile_s, exec_s, second_run_s]. Transient pins are
    // released BLOCKING before each run — the round-4 regression was async
    // eviction from the dedup family's pins billed to the next family —
    // and the second run rebuilds the plan from scratch (fresh builder,
    // same contamination assertion), so run2 isolates steady-state JIT/GC
    // variance from first-run cost. The contract headline stays first-run.
    // Each run is bracketed by a BenchDiag window (outside the timed
    // region: mark/measure wait for listener quiescence, so their poll
    // cost never lands inside a timing); the calibration probe fires at
    // each query-family boundary, before the family's first release/pin.
    val loadStart = diag.loadAvgX100
    val diags = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[(String, Long)], Seq[(String, Long)])]
    // outlier adjudication (round-12 lesson: aggr_min/median/percentile ran
    // 4–6× their r11 numbers mid-family on ONE box, and the family-boundary
    // probes bracketed the window too coarsely to tell "box event" from
    // "regression"). When a query's run is >3× the median of its
    // already-measured same-family siblings (and above an absolute floor so
    // sub-second noise never triggers), the loop immediately (a) fires the
    // fixed-work calibration probe ADJACENT to the outlier — an in-band env
    // reading seconds, not minutes, away — and (b) re-runs the query a third
    // time under the same release/pin/contamination discipline. A slow third
    // run next to a slow probe = environment; a slow third run next to a
    // fast probe = real. Recorded under `"outliers"` in BENCH_DETAIL.json
    // (probe seconds + run3 triple + both diag windows) so the artifact
    // adjudicates itself.
    val famTotals = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    val outliers = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Double, Double, Double, Seq[(String, Long)])]
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    var lastFam = ""
    // per-gate ambient annotation (r17 verdict item 1c): the 1-min
    // loadavg read immediately before run1 rides into the officials map,
    // so every published number names the load it ran under
    val gateLoad = scala.collection.mutable.Map.empty[String, Long]
    // code-cache headroom peak (item 5): max gauge across ALL diag
    // windows — run1/run2, outlier run3, and the deferred re-runs (the
    // deferred pass compiles fresh after releaseTransient, so its windows
    // can carry the true peak)
    var codeCachePeak = 0L
    def noteCodeCache(kvs: Seq[(String, Long)]): Seq[(String, Long)] = {
      kvs.foreach {
        case ("code_cache_used", v) =>
          codeCachePeak = math.max(codeCachePeak, v)
        case _ => ()
      }
      kvs
    }
    // probe cadence: at every family boundary AND every 8 gates inside a
    // family — the sim/stream families are 40+ gates each, so
    // family-boundary-only probing left multi-minute stretches with no
    // in-band env reading (the r18 first drive's burst landed exactly
    // there: it began at the `shift` boundary, the pause fired once, and
    // the load returned unobserved through the alphabetically-late
    // stream gates)
    var sinceProbe = 0
    val results = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n))).map { name =>
      val fam = name.takeWhile(_ != '_')
      if (fam != lastFam) { probeAtBoundary(fam); lastFam = fam; sinceProbe = 0 }
      else if (sinceProbe >= 8) { probeAtBoundary(s"$fam+"); sinceProbe = 0 }
      sinceProbe += 1
      graft.core.Caches.releaseTransient(spark, blocking = true)
      pinSanctioned(name)
      gateLoad(name) = diag.loadAvgX100
      val m1 = diag.mark()
      val p1 = graft.core.Provisioning.snapshotNs
      val t0 = System.nanoTime()
      val (c1, e1) =
        try runOnce(name)
        catch { case t: Throwable =>
          // a throwing query must be visible, not a flattering ~0s entry
          failed += name
          System.err.println(s"[bench] FAILED $name: ${t.getClass.getName}: ${t.getMessage}")
          val dt = (System.nanoTime() - t0) / 1e9
          (dt, 0.0)
        }
      // harness-scaffolding share of the run (stream gates: replay
      // staging, query start/stop, sink-table management — see
      // core/Provisioning); zero for plain batch queries
      val d1 = diag.measure(m1) :+
        ("provision_ms" -> (graft.core.Provisioning.snapshotNs - p1) / 1000000L)
      graft.core.Caches.releaseTransient(spark, blocking = true)
      pinSanctioned(s"$name(run2)")
      val m2 = diag.mark()
      val p2 = graft.core.Provisioning.snapshotNs
      val t1 = System.nanoTime()
      val r2 =
        try { runOnce(name); (System.nanoTime() - t1) / 1e9 }
        catch { case t: Throwable =>
          // run 1 may have succeeded and only run 2 failed (flaky query):
          // mark the query failed (a flaky run is not green) and emit a
          // -1.0 sentinel in the detail, never a flattering 0.0
          failed += s"$name(run2)"
          System.err.println(
            s"[bench] run 2 FAILED $name: ${t.getClass.getName}: ${t.getMessage}")
          -1.0
        }
      val d2 = diag.measure(m2) :+
        ("provision_ms" -> (graft.core.Provisioning.snapshotNs - p2) / 1000000L)
      diags += ((name, noteCodeCache(d1), noteCodeCache(d2)))
      // outlier check: the sibling-median triggers need ≥2 measured
      // siblings, but run2-vs-run1 compares a query against ITSELF and
      // needs none — r15's curate_classifier_bigram ran 2.4 s on run1 and
      // 10.0 s on run2 as the 2nd query of its family and got no
      // adjudication record, so the round's only slow-line breach shipped
      // unexplained. Floor 1.0 s keeps fast-family jitter out; a failed
      // query is already marked and needs no adjudication.
      val tot1 = c1 + e1
      val sibs = famTotals.getOrElseUpdate(fam,
        scala.collection.mutable.ArrayBuffer.empty[Double])
      // exact-name failure match: prefix gate pairs (stream_avg /
      // stream_avg_slots) must not shadow each other
      if (!failed.exists(f => f == name || f.startsWith(name + "("))) {
        val med = if (sibs.length >= 2) median(sibs.toSeq) else tot1
        // absolute trigger (r17 verdict #4: stream_bpe_encode breached
        // the reference's 5 s slow line at only 2.2× its slow-family
        // siblings and shipped without an adjudication record — the
        // relative net has a hole for "slow family, slow gate"): any
        // run over the 5 s line fires the probe + run3 + record,
        // regardless of family median
        val trigger =
          if (sibs.length >= 2 && tot1 > 3 * med && tot1 > 1.0) "run1"
          else if (sibs.length >= 2 && r2 > 3 * med && r2 > 1.0) "run2"
          else if (r2 > 3 * tot1 && r2 > 1.0) "run2_vs_run1"
          else if (tot1 > 5.0) "run1_abs"
          else if (r2 > 5.0) "run2_abs"
          else ""
        if (trigger.nonEmpty) {
          System.err.println(
            s"[bench] outlier $name ($trigger: run1=${r3(tot1)} run2=${r3(r2)} " +
              s"sibling_median=${r3(med)}) — adjacent probe + third run")
          probe(s"outlier:$name")
          graft.core.Caches.releaseTransient(spark, blocking = true)
          pinSanctioned(s"$name(run3)")
          val m3 = diag.mark()
          val p3 = graft.core.Provisioning.snapshotNs
          val t2 = System.nanoTime()
          val run3 =
            try { runOnce(name); (System.nanoTime() - t2) / 1e9 }
            catch { case t: Throwable =>
              System.err.println(
                s"[bench] run 3 FAILED $name: ${t.getClass.getName}: ${t.getMessage}")
              -1.0
            }
          val probeSec = probes.lastOption
            .collect { case (at, s, _) if at == s"outlier:$name" => s }
            .getOrElse(-1.0)
          // provision_ms rides along exactly as in the m1/m2 windows, so a
          // run3 dominated by harness provisioning (stream gates) is
          // distinguishable in the artifact like the other two runs
          outliers += ((name, trigger, med, probeSec, run3,
            noteCodeCache(diag.measure(m3) :+
              ("provision_ms" ->
                (graft.core.Provisioning.snapshotNs - p3) / 1000000L))))
        }
      }
      sibs += tot1
      name -> ((c1, e1, r2))
    }
    probe("end")
    // outlier ADJUDICATION into the official number (r15 verdict #3): a
    // run1 outlier whose ADJACENT fixed-work probe also ran slow is a box
    // event, not a regression — the harness already recorded the evidence
    // but r15 still published the inflated number (tpch_q5 4.233 s with
    // sibling_median 0.66 in the same artifact). For those, the official
    // per-query value becomes min(run1, run3); a FAST probe next to the
    // outlier means the slowdown is real and run1 stands. The decision is
    // recorded per query so the contract number is auditable in-artifact.
    // baseline = the MINIMUM non-outlier probe, not the median: the probe
    // is fixed work, so its fastest observation is the quiet-box cost; a
    // median over a drive with several loaded windows inflates the
    // baseline and can mask a genuine box event next to an outlier
    val probeBaseline = probes.collect {
      case (at, s, _) if !at.startsWith("outlier:") => s
    }.foldLeft(0.0)((m, s) => if (m == 0.0 || s < m) s else m)
    // EVERY fired probe lands a record (r16 verdict #2: stream_bpe_encode
    // fired the probe but shipped no decision — exactly the bookkeeping
    // gap the protocol exists to close), each carrying
    // {official, steady, class}:
    //   - env_event: the adjacent fixed-work probe also ran slow — box
    //     event, official becomes min(run1, run3) when run1 was the
    //     outlier (a run2/run2_vs_run1 outlier never was the official,
    //     so run1 stands there);
    //   - transient_warmup: probe fast AND run3 back under the same 3×
    //     sibling-median trigger line — the slowness was one-off
    //     session warm-up (JIT/codegen), not the box and not the plan.
    //     The conservative official (run1) stands, but `steady` (the
    //     fastest successful run) is recorded beside it so
    //     round-over-round comparison can compare steady states;
    //   - regression: probe fast and run3 still slow — real, run1
    //     stands;
    //   - unadjudicated: run3 itself failed — no steady evidence.
    // decision rules live in BenchProtocol (pure, spec-pinned)
    val adjudicated: Map[String, (Double, Double, String, Boolean)] =
      outliers.map { case (name, trigger, med, pSec, run3, _) =>
        val (run1, r2) = results.collectFirst {
          case (`name`, (c, e, r)) => (c + e, r)
        }.getOrElse((if (run3 > 0) run3 else 0.0, -1.0))
        val a = BenchProtocol.adjudicate(
          trigger, run1, r2, run3, med, pSec, probeBaseline)
        name -> ((a.official, a.steady, a.cls, a.envEvent))
      }.toMap
    // ---- deferred quiet-window re-runs (r17 verdict #1b/#1d) ----------
    //
    // The env_event rule's only remedy — official = min(run1, run3) — is
    // powerless when external load spans both runs: r17 shipped
    // embed_pca_k at 30.39 s official for work that runs in 0.1 s quiet.
    // After the sweep, every gate whose official is over the reference's
    // 5 s slow line, plus every env_event adjudication above 1 s, is
    // re-run ONCE behind a fresh settle gate with its own adjacent probe:
    //   - first number load-flagged (env_event class, or run1's ambient
    //     loadavg over the settle threshold) AND the deferred window
    //     healthy (probe at baseline, run succeeded) → the deferred run
    //     IS the official (class `deferred_requote`);
    //   - load-flagged but the deferred window is ALSO poisoned (or the
    //     run failed) → the gate's official is UNTRUSTED: published in
    //     the detail with its best-known value but EXCLUDED from the
    //     contract total — a poisoned number must not aggregate into the
    //     round's number of record;
    //   - not load-flagged (fast probe next to the original outlier — a
    //     real regression): the conservative run1 official stands, the
    //     deferred run rides along as steady-state evidence.
    // Bounded: the 12 worst suspects, ≤120 s settle each.
    val run1Of: Map[String, Double] =
      results.map { case (k, (c, e, _)) => k -> (c + e) }.toMap
    val preOfficial: Map[String, Double] = results.map { case (k, _) =>
      k -> adjudicated.get(k).map(_._1).getOrElse(run1Of(k))
    }.toMap
    // gate-name failure match must be EXACT (name or "name(run2)" etc.):
    // the registry has prefix pairs (stream_avg / stream_avg_slots,
    // embed_pca / embed_pca_k) where a plain startsWith would let one
    // gate's failure exclude its healthy prefix sibling from the protocol
    def gateFailed(k: String): Boolean =
      failed.exists(f => f == k || f.startsWith(k + "("))
    // load-flag = the outlier's adjacent probe ran slow (envEvent bool —
    // NOT the class string, which reads "unadjudicated" when run3 failed
    // even though the probe evidence stands) AND the flagged number was
    // run1's (a run2-triggered env event never put the official in
    // question, so requoting/untrusting it would bias a clean run1)
    val outlierTrigger: Map[String, String] =
      outliers.map { case (k, trig, _, _, _, _) => k -> trig }.toMap
    def loadFlaggedGate(k: String): Boolean =
      adjudicated.get(k).exists(_._4) &&
        outlierTrigger.get(k).exists(_.startsWith("run1"))
    // pre-deferred steady: fastest successful observation among run1,
    // run2, and any run3 — the gate's own evidence of what the work
    // costs when nothing external interferes
    val preSteady: Map[String, Double] = results.map { case (k, (c, e, r2)) =>
      val cands = Seq(c + e, r2) ++ adjudicated.get(k).map(_._2).toSeq
      val pos = cands.filter(_ > 0)
      k -> (if (pos.isEmpty) c + e else pos.min)
    }.toMap
    // suspect classes, in priority order (r18 verdict #1: trusted
    // officials shipped at 2–5× their own steady under persistent
    // mid-band load and nothing re-measured them):
    //   (a) OVER THE 5 s LINE — the contract's own red line. UNCAPPED
    //       (r19 verdict #2: stream_active 5.29 s and
    //       stream_sim_pq_residual 5.12 s shipped trusted over the line
    //       with no deferred record because ≥12 bigger fires outranked
    //       them in the old shared 12-slot budget; over-line gates are
    //       few by construction, so every one gets an attempt);
    //   (b) probe-load-flagged — the r18 rules, capped at 12;
    //   (c) INFLATED: official > 2× the gate's own steady (1 s floor,
    //       BenchProtocol.inflatedOfficial) — ambient load the outlier
    //       net missed, or legitimate cold-run cost the deferred run
    //       will simply confirm (min() keeps the official). Capped at
    //       12, ranked by reclaimable excess.
    // Caps apply per class so a heavily-loaded box can't starve the
    // over-line class with dozens of 2× gates.
    val overLineSuspects = results.collect {
      case (k, _) if !gateFailed(k) && preOfficial(k) > 5.0 => k
    }.sortBy(k => -preOfficial(k))
    val loadSuspects = results.collect {
      case (k, _) if !gateFailed(k) && !overLineSuspects.contains(k) &&
        loadFlaggedGate(k) && preOfficial(k) > 1.0 => k
    }.sortBy(k => -preOfficial(k)).take(12)
    val flaggedSuspects = overLineSuspects ++ loadSuspects
    def inflatedGate(k: String): Boolean =
      BenchProtocol.inflatedOfficial(preOfficial(k), preSteady(k))
    val inflatedSuspects = results.collect {
      case (k, _) if !gateFailed(k) && !flaggedSuspects.contains(k) &&
        inflatedGate(k) => k
    }.sortBy(k => -(preOfficial(k) - preSteady(k))).take(12)
    val suspects = flaggedSuspects ++ inflatedSuspects
    // one deferred record per attempt; forensics ride along (r19 verdict
    // #4: deferred runs executed at 20–50× steady while loadavg read ~2 —
    // the poisoner was invisible, so each record now bounds the window
    // with a POST-run probe and carries box-global memory/iowait gauges
    // plus the JVM's own major-fault delta next to loadavg)
    final case class DeferredRec(name: String, attempt: Int,
      settleWaitMs: Long, probeSec: Double, runSec: Double,
      probeAfterSec: Double, loadX100: Long, memAvailKbBefore: Long,
      memAvailKbAfter: Long, iowaitTicksDelta: Long, majfltDelta: Long,
      diag: Seq[(String, Long)])
    val deferred = scala.collection.mutable.ArrayBuffer.empty[DeferredRec]
    // GLOBAL settle budget across the deferred pass: the inflated class
    // (r18 verdict #1) widened the suspect list to 24, and 24 × 120 s of
    // per-gate settling on a permanently loaded box would add 48 min to
    // the driver's timeline for windows that never come — after the
    // budget, deferred runs proceed probe-only (an unhealthy probe just
    // means no requote, the conservative/untrusted rules stand)
    var deferredSettleBudgetMs = 600000L
    def deferredAttempt(name: String, attempt: Int): Unit = {
      System.err.println(
        s"[bench] deferred re-run $name attempt $attempt (official " +
          s"${r3(preOfficial(name))}s, class " +
          s"${adjudicated.get(name).map(_._3).getOrElse("none")})")
      // probe first: a healthy probe means the box is ALREADY quiet and
      // settling would only wait out the bench's own decaying loadavg
      // (which reads 3–17 mid-run from self-work alone); settle + re-probe
      // only when the probe itself shows contention
      var pSec = probe(s"deferred:$name")
      var waited = 0L
      if (!BenchProtocol.probeHealthy(pSec, probeBaselineNow) &&
          deferredSettleBudgetMs > 0) {
        waited = settle(s"deferred:$name", 5000L,
          math.min(120000L, deferredSettleBudgetMs), probeExit = true)._1
        deferredSettleBudgetMs -= waited
        pSec = probe(s"deferred:$name")
      }
      graft.core.Caches.releaseTransient(spark, blocking = true)
      pinSanctioned(s"$name(deferred)")
      val load = diag.loadAvgX100
      val memB = BenchDiag.memAvailableKb
      val iowB = BenchDiag.iowaitTicks
      val mfB = BenchDiag.selfMajorFaults
      val md = diag.mark()
      val pd = graft.core.Provisioning.snapshotNs
      val t0 = System.nanoTime()
      val dSec =
        try { runOnce(name); (System.nanoTime() - t0) / 1e9 }
        catch { case t: Throwable =>
          System.err.println(s"[bench] deferred run FAILED $name: " +
            s"${t.getClass.getName}: ${t.getMessage}")
          -1.0
        }
      val dd = noteCodeCache(diag.measure(md) :+
        ("provision_ms" ->
          (graft.core.Provisioning.snapshotNs - pd) / 1000000L))
      val memA = BenchDiag.memAvailableKb
      val iowA = BenchDiag.iowaitTicks
      val mfA = BenchDiag.selfMajorFaults
      // post-run probe: bounds whether an unhealthy window died before
      // the run (both probes slow) or during it (pre fast, post slow)
      val pAfter = probe(s"deferred:$name:after")
      def delta(b: Long, a: Long): Long = if (b < 0 || a < 0) -1L else a - b
      deferred += DeferredRec(name, attempt, waited, pSec, dSec, pAfter,
        load, memB, memA, delta(iowB, iowA), delta(mfB, mfA), dd)
    }
    for (name <- suspects) deferredAttempt(name, 1)
    // RETRY pass (r19 verdict #1, second half): a suspect whose only
    // window was itself poisoned gets ONE more window at end of drive
    // before the trust rule demotes it to untrusted — the drive's tail
    // is minutes later, and a transient fire has often passed by then.
    // Probe-only when the settle budget is spent (a healthy probe +
    // run still acquits).
    val retryQueue = suspects.filter { k =>
      val atts = deferred.filter(_.name == k)
      atts.nonEmpty && !atts.exists(a =>
        BenchProtocol.windowHealthy(a.probeSec, a.runSec, probeBaselineNow))
    }
    if (retryQueue.nonEmpty)
      System.err.println(
        s"[bench] retry windows for ${retryQueue.size} suspect(s) whose " +
          s"first deferred window was unhealthy: ${retryQueue.mkString(", ")}")
    for (name <- retryQueue) deferredAttempt(name, 2)
    // final probe baseline including the deferred windows' probes
    val probeBaseline2 = probeBaselineNow
    // the attempt that stands for each suspect: the healthiest window
    // (fastest healthy run), else the LAST attempt — trustDecision then
    // sees clean evidence when any window produced it
    val bestAttempt: Map[String, DeferredRec] =
      deferred.toSeq.groupBy(_.name).map { case (k, atts) =>
        val healthy = atts.filter(a =>
          BenchProtocol.windowHealthy(a.probeSec, a.runSec, probeBaseline2))
        k -> (if (healthy.nonEmpty) healthy.minBy(_.runSec)
              else atts.maxBy(_.attempt))
      }
    // end-of-drive box-state reference (paired with boxrefStart): the
    // start/end pair also bounds WHEN a drive's box went bad
    val boxrefEnd = boxrefPass("end")
    // per gate: (official sec, source run, trusted?) — the contract total
    // sums only trusted officials
    val officials: Map[String, (Double, String, Boolean)] =
      results.map { case (k, _) =>
        val pre = preOfficial(k)
        val srcPre =
          if (adjudicated.get(k).exists(a =>
            a._1 != run1Of(k) && a._4)) "run3" else "run1"
        // load-flagging is PROBE-based only: the ambient loadavg reads
        // 3–17 on a quiet box purely from the bench's own 32-thread work
        // (measured on the r17 settled run), so it annotates but never
        // decides; the fixed-work probe measures actual contention.
        // loadFlaggedGate = envEvent bool + run1-class trigger (see the
        // suspects block for why the class string and run2 triggers are
        // both wrong here)
        bestAttempt.get(k).map { a =>
          BenchProtocol.trustDecision(
            pre, srcPre, loadFlaggedGate(k), overLine = pre > 5.0,
            inflated = inflatedGate(k), a.probeSec, a.runSec,
            probeBaseline2)
        }.getOrElse((pre, srcPre, true)) match { case v => k -> v }
      }.toMap
    val untrusted = officials.collect {
      case (k, (_, _, false)) => k
    }.toSeq.sorted
    // adjudication-movement tally (r20 verdict #7): officials whose
    // requote differs >2× from their own run1 — the one number that
    // separates engine movement from adjudication movement when the
    // next round's totals are compared (a harness that can requote
    // aggressively must say how often it did)
    val requoted2x = officials.collect {
      case (k, (sec, src, _)) if src != "run1" && run1Of.contains(k) &&
        run1Of(k) > 0 && (sec > 2 * run1Of(k) || sec * 2 < run1Of(k)) => k
    }.toSeq.sorted
    val requoted2xJson =
      requoted2x.map("\"" + _ + "\"").mkString("[", ",", "]")
    if (untrusted.nonEmpty)
      System.err.println(
        s"[bench] UNTRUSTED officials (excluded from the contract " +
          s"total): ${untrusted.mkString(", ")}")
    // steady per gate: fastest successful observation across run1, run2,
    // run3, and the deferred run — the load-resistant round-over-round
    // comparison column (r17 verdict #7)
    val steadyOf: Map[String, Double] = results.map { case (k, (c, e, r2)) =>
      val cands = Seq(c + e, r2) ++
        adjudicated.get(k).map(_._2).toSeq ++
        deferred.collect { case a if a.name == k && a.runSec > 0 => a.runSec }
      k -> cands.filter(_ > 0).min
    }.toMap
    // note: the memoized series table (SeriesOps) is shared across queries
    // by design — it models the materialized storage layer (core/Layout),
    // which production queries read instead of re-deriving
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // full detail goes to a repo file, NOT stdout: the driver keeps only a
    // ~2000-byte stdout tail, and both the r6 single-line and r7 per-family
    // chunking lost most triples to that window. One JSON object, one key
    // per query, value [compile_s, exec_s, second_run_s]; `failed` and the
    // sf dir ride along so the file is self-describing.
    val detailJson = {
      val entries = results.map { case (k, (c, e, r2)) =>
        "\"" + k + "\":[" + r3(c) + "," + r3(e) + "," + r3(r2) + "]"
      }.mkString("{", ",", "}")
      def obj(kvs: Seq[(String, Long)]): String =
        kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val diagJson = diags.map { case (k, d1, d2) =>
        "\"" + k + "\":{\"run1\":" + obj(d1) + ",\"run2\":" + obj(d2) + "}"
      }.mkString("{", ",", "}")
      val probesJson = probes.map { case (at, sec, d) =>
        "{\"at\":\"" + at + "\",\"sec\":" + r3(sec) + ",\"diag\":" + obj(d) + "}"
      }.mkString("[", ",", "]")
      val outliersJson = outliers.map { case (k, trig, med, pSec, run3, d3) =>
        "\"" + k + "\":{\"trigger\":\"" + trig + "\",\"sibling_median\":" +
          r3(med) + ",\"probe_sec\":" + r3(pSec) + ",\"run3\":" + r3(run3) +
          ",\"run3_diag\":" + obj(d3) + "}"
      }.mkString("{", ",", "}")
      val rt = Runtime.getRuntime
      // code-cache headroom assertion (r17 verdict #5): warn INTO the
      // artifact when JIT code-heap peak usage crosses 80% of the VM's
      // reservation — past that, C2 flushes and hot loops degrade to
      // interpreted silently
      val ccReserved = BenchDiag.reservedCodeCacheBytes.getOrElse(0L)
      val ccWarn = BenchDiag.codeCacheWarning(codeCachePeak, ccReserved)
      ccWarn.foreach(w => System.err.println(s"[bench] WARNING: $w"))
      val envJson = obj(Seq(
        "cpus" -> cpus.toLong,
        "heap_max" -> rt.maxMemory,
        "loadavg_presettle_x100" -> loadPreSettle,
        "settle_wait_ms" -> settleWaitMs,
        "settled" -> settled,
        "loadavg_start_x100" -> loadStart,
        "loadavg_end_x100" -> diag.loadAvgX100,
        "code_cache_peak" -> codeCachePeak,
        "code_cache_reserved" -> ccReserved,
        "code_cache_warn" -> (if (ccWarn.isDefined) 1L else 0L),
        "pause_budget_left" -> pauseBudget.toLong))
      val pausesJson = pauses.map { case (at, sec, wait, ok, re, blip) =>
        "{\"at\":\"" + at + "\",\"probe_sec\":" + r3(sec) +
          ",\"settle_wait_ms\":" + wait + ",\"settled\":" + ok +
          ",\"blip\":" + blip + ",\"reprobe_sec\":" + r3(re) + "}"
      }.mkString("[", ",", "]")
      // key = gate name for the first attempt, "name#2" for the retry
      // window, so the object keeps one entry per attempt without
      // duplicate keys; `attempt` rides inside each record too
      val deferredJson = deferred.map { a =>
        val key = if (a.attempt == 1) a.name else s"${a.name}#${a.attempt}"
        "\"" + key + "\":{\"attempt\":" + a.attempt +
          ",\"settle_wait_ms\":" + a.settleWaitMs +
          ",\"probe_sec\":" + r3(a.probeSec) +
          ",\"run_sec\":" + r3(a.runSec) +
          ",\"probe_after_sec\":" + r3(a.probeAfterSec) +
          ",\"loadavg_x100\":" + a.loadX100 +
          ",\"mem_avail_kb_before\":" + a.memAvailKbBefore +
          ",\"mem_avail_kb_after\":" + a.memAvailKbAfter +
          ",\"iowait_ticks_delta\":" + a.iowaitTicksDelta +
          ",\"majflt_delta\":" + a.majfltDelta +
          ",\"diag\":" + obj(a.diag) + "}"
      }.mkString("{", ",", "}")
      // every official, annotated with the run it came from, the ambient
      // loadavg run1 started under (item 1c), and whether it aggregates
      // into the contract total (item 1d)
      val officialsJson = officials.toSeq.sortBy(_._1).map {
        case (k, (sec, src, trusted)) =>
          "\"" + k + "\":{\"sec\":" + r3(sec) + ",\"source\":\"" + src +
            "\",\"loadavg_x100\":" + gateLoad.getOrElse(k, -1L) +
            ",\"trusted\":" + trusted +
            ",\"steady\":" + r3(steadyOf(k)) + "}"
      }.mkString("{", ",", "}")
      // cachedName is a truncated plan string — sanitize for JSON
      def esc(s: String): String =
        s.replaceAll("[\"\\\\\n\r\t]", " ").take(80)
      val provisioningJson = provisioning.map { case (s, t) =>
        "\"" + s + "\":" + r3(t)
      }.mkString("{", ",", "}")
      val provByStep = provisioning.toMap
      // per memo-backed gate: which sanctioned artifacts its plan read
      // warm, the COLD build seconds of the warmup steps that made them,
      // and the gate's own WARM run seconds — the {cold, warm} record
      val memoJson = results.flatMap { case (k, (c, e, r2)) =>
        val planArts = memoReads.getOrElse(k, Seq.empty)
        val arts = planArts ++
          driverMemoGates.get(k).map("driver-local model state: " + _)
        if (arts.isEmpty) None
        else {
          val steps = (planArts.flatMap(artifactStep.get) ++
            driverMemoGates.get(k).toSeq).distinct
          val cold = steps.flatMap(provByStep.get).sum
          Some("\"" + k + "\":{\"arts\":" +
            arts.map(a => "\"" + esc(a) + "\"").mkString("[", ",", "]") +
            ",\"steps\":" +
            steps.map(s => "\"" + s + "\"").mkString("[", ",", "]") +
            ",\"cold_s\":" + r3(cold) + ",\"warm_s\":" + r3(c + e) +
            ",\"warm2_s\":" + r3(r2) + "}")
        }
      }.mkString("{", ",", "}")
      val adjJson = adjudicated.toSeq.sortBy(_._1).map {
        case (k, (v, steady, cls, env)) =>
          "\"" + k + "\":{\"env_event\":" + env + ",\"class\":\"" + cls +
            "\",\"official\":" + r3(v) + ",\"steady\":" + r3(steady) + "}"
      }.mkString("{", ",", "}")
      val boxrefJson = {
        def side(p: Seq[(String, Seq[Double])]): String =
          p.map { case (n, xs) =>
            "\"" + n + "\":" + xs.map(r3).mkString("[", ",", "]")
          }.mkString("{", ",", "}")
        s"""{"start":${side(boxrefStart)},"end":${side(boxrefEnd)}}"""
      }
      s"""{"detail":$entries,"diag":$diagJson,"probes":$probesJson,""" +
        s""""outliers":$outliersJson,"adjudicated":$adjJson,""" +
        s""""requoted_2x":$requoted2xJson,""" +
        s""""officials":$officialsJson,"deferred":$deferredJson,""" +
        s""""pauses":$pausesJson,"boxref":$boxrefJson,""" +
        s""""provisioning":$provisioningJson,"memo":$memoJson,""" +
        s""""env":$envJson,"failed":$failedJson,"sf":"$sfDir"}"""
    }
    // run-stamped artifact + a latest-copy at the fixed path (r17 verdict
    // #2: the bench wrote BENCH_DETAIL.json unconditionally, so any
    // re-run — including the judge's own adjudication run — destroyed
    // the prior run's only per-gate record). Two consecutive invocations
    // now leave two stamped artifacts; the fixed path stays a convenience
    // copy of the newest for the driver/judge workflows that read it.
    val bytes =
      (detailJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // stamps live under bench_runs/ (gitignored) so a multi-drive round
    // doesn't litter the repo root (r18 left 13 there), at millisecond
    // granularity so two drives finishing within the same second can't
    // clobber each other's evidence — with a createFile-retry uniquifier
    // as the backstop for sub-millisecond collisions
    val runsDir = java.nio.file.Paths.get("bench_runs")
    java.nio.file.Files.createDirectories(runsDir)
    val stampBase = System.currentTimeMillis()
    def claim(p: java.nio.file.Path): Boolean =
      try { java.nio.file.Files.createFile(p); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    val stamped = Iterator.from(0)
      .map(i => runsDir.resolve(
        if (i == 0) s"BENCH_DETAIL_$stampBase.json"
        else s"BENCH_DETAIL_$stampBase-$i.json"))
      .collectFirst { case p if claim(p) => p }.get
    java.nio.file.Files.write(stamped, bytes)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_DETAIL.json"), bytes)
    System.err.println(s"[bench] detail artifact: $stamped (+ latest copy)")
    println(s"""{"failed":$failedJson,"sf":"$sfDir"}""")

    // the contract line publishes the per-query OFFICIAL: run1 unless the
    // in-band evidence re-attributed it (run3 under the env_event rule,
    // or the deferred quiet-window re-run when the first was
    // load-flagged); the total aggregates TRUSTED officials only
    val byName = officials.map { case (k, (sec, _, _)) => k -> sec }
    val qs = Headline.filter(byName.contains)
      .map(k => "\"" + k + "\":" + r3(byName(k))).mkString("{", ",", "}")
    val total = officials.collect {
      case (_, (sec, _, true)) => sec
    }.sum
    val steadyQs = Headline.filter(steadyOf.contains)
      .map(k => "\"" + k + "\":" + r3(steadyOf(k))).mkString("{", ",", "}")
    val steadyTotal = steadyOf.values.sum
    // cold-plan comparability column (r19 advice: the deferred requote
    // can replace a cold-plan official with a warm quiet-window
    // measurement, which changes what the headline total measures
    // round-over-round) — cold_total sums the PRE-deferred adjudicated
    // officials over all gates, i.e. the number the r18 discipline would
    // have shipped, published next to the trusted total so both framings
    // stay comparable across rounds
    val coldTotal = preOfficial.values.sum
    val untrustedJson =
      untrusted.map("\"" + _ + "\"").mkString("[", ",", "]")
    spark.stop()
    // steady-state line (r17 verdict #7): fastest successful observation
    // per gate — the load-resistant round-over-round comparison column.
    // No "metric" key, so contract-shape parsers skip it; it prints just
    // before the contract line so both land inside the driver's bounded
    // stdout tail. Consistency note: the contract line's `queries` map
    // publishes every headline official (including any untrusted one,
    // with its best-known value) while `value` sums TRUSTED officials
    // only — a reader of the contract line alone sees a total that
    // excludes poison; which gates were excluded is on THIS line
    // (`untrusted`) and per-gate in BENCH_DETAIL's `officials`.
    System.out.println(
      s"""{"steady_total":${r3(steadyTotal)},"cold_total":${r3(coldTotal)},""" +
        s""""untrusted":$untrustedJson,"requoted_2x":$requoted2xJson,""" +
        s""""steady":$steadyQs}""")
    // contract line LAST (documented shape), after spark.stop() so no
    // shutdown logging prints below it; build.sbt routes forked stdout
    // raw (StdoutOutput) and suppresses sbt's "[success]" epilogue, so
    // this is the final stdout line of the whole sbt run.
    // `steady_total` rides INSIDE the parsed contract object (r18 verdict
    // #5) so the driver's own round-over-round diffing sees the
    // load-resistant column without reading stdout line 2; the per-gate
    // steady map stays on the line above — duplicating 34 more entries
    // here would push the contract line against the driver's ~2000-byte
    // stdout tail
    System.out.println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","steady_total":${r3(steadyTotal)},"cold_total":${r3(coldTotal)},"queries":$qs,"sf":"$sfDir"}""")
    System.out.flush()
  }
}
