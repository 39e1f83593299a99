package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines (builder brief,
  * beyond the reference surface): benchmark decontamination, deterministic
  * stratified sampling, and per-stratum top-k selection.
  *
  * All three are shuffle-bounded declarative plans; the hashes are
  * md5-derived so the DuckDB oracle reproduces them exactly.
  */
object Curation {

  // ------------------------------------------------ perplexity buckets

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per-language
    * tercile cutpoints over the LM-quality score (here the mean unigram
    * log-prob — higher = more probable = lower perplexity), each document
    * labeled head / middle / tail by VALUE against the cuts, and
    * head+middle kept — the filtering CCNet applies before training.
    *
    * Cutpoints use the engine's k-th-smallest convention
    * (`ceil(p·n)`-th order statistic, the [[graft.ops.Aggrs]] percentile
    * — no interpolation, so both engines pick an actual data value and
    * the bucket comparisons cannot straddle an ulp). Determinism needs
    * no tie-break: buckets are value-based, so equal scores land in the
    * same bucket by the same comparison.
    *
    * Scale shape: one (lang) aggregation for the cuts — per-group state
    * is the language's score list (the same documented envelope as the
    * exact percentile aggregate; beyond it, swap `approx_percentile`
    * cutpoints — value-based bucketing is unchanged by how the cut is
    * found) — then the cut table (|langs| rows) broadcasts back and the
    * bucket label is a row-local comparison. The corpus never sorts
    * globally and never shuffles for the labeling pass.
    */
  def pplBuckets(docs: DataFrame, scored: DataFrame): DataFrame = {
    // the scored-by-lang frame feeds BOTH the cut aggregation and the
    // labeling join — unpersisted, the whole `scored` subtree (token
    // explode → model join → per-doc aggregation) executed twice in one
    // action (r20 baseline: curate_ppl_buckets steady 1.5 s ≈ 2× the
    // text_logprob gate it wraps). Persist + handoff is the standard
    // shared-subtree pin (Persist scaladoc); released per query by
    // releaseTransient.
    val sl = scoredByLang(docs, scored)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Persist.handoff(
      sl.join(broadcast(pplCutsFrom(sl)), "lang")
        .select(col("doc_id") +: col("lang") +: col("avg_logprob") +:
          pplLabelCols(col("avg_logprob"), col("c13"), col("c23")): _*),
      sl)
  }

  /** The per-language tercile cut table (lang, c13, c23) — the frozen
    * artifact the STREAMING labeler joins against (batch-refreshed with
    * the LM, exactly like CCNet's per-language cutoff files).
    */
  def pplCuts(docs: DataFrame, scored: DataFrame): DataFrame =
    pplCutsFrom(scoredByLang(docs, scored))

  private def pplCutsFrom(sl: DataFrame): DataFrame = {
    def kth(v: Column, p: Double): Column = {
      val arr = array_sort(collect_list(v))
      element_at(arr,
        greatest(lit(1L), ceil(lit(p) * size(arr).cast("double")).cast("long"))
          .cast("int"))
    }
    sl.groupBy("lang")
      .agg(kth(col("avg_logprob"), 1.0 / 3).as("c13"),
        kth(col("avg_logprob"), 2.0 / 3).as("c23"))
  }

  /** The shared labeling columns — single-sourced so the batch operator
    * and the streaming labeler cannot drift.
    */
  def pplLabelCols(lp: Column, c13: Column, c23: Column): Seq[Column] = Seq(
    when(lp >= c23, "head").when(lp >= c13, "middle")
      .otherwise("tail").as("bucket"),
    (lp >= c13).as("kept"))

  private def scoredByLang(docs: DataFrame, scored: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"))
      .join(scored.select(col("doc_id"), col("avg_logprob")), "doc_id")

  /** DuckDB mirror of [[pplBuckets]]; `scoredSql` must yield
    * (doc_id, avg_logprob) — the `text_logprob` oracle slots in.
    */
  def pplBucketsSql(scoredSql: String): String =
    s"""WITH scored AS ($scoredSql),
       |j AS (SELECT d.doc_id, d.lang, s.avg_logprob
       |      FROM documents d JOIN scored s USING (doc_id)),
       |cuts AS (SELECT lang,
       |    list_sort(list(avg_logprob))[GREATEST(1,
       |      CAST(CEIL(${1.0 / 3} * COUNT(avg_logprob)) AS BIGINT))] AS c13,
       |    list_sort(list(avg_logprob))[GREATEST(1,
       |      CAST(CEIL(${2.0 / 3} * COUNT(avg_logprob)) AS BIGINT))] AS c23
       |  FROM j GROUP BY 1)
       |SELECT doc_id, lang, avg_logprob,
       |       CASE WHEN avg_logprob >= c23 THEN 'head'
       |            WHEN avg_logprob >= c13 THEN 'middle'
       |            ELSE 'tail' END AS bucket,
       |       avg_logprob >= c13 AS kept
       |FROM j JOIN cuts USING (lang) ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- decontamination

  /** Benchmark decontamination: flag training documents sharing at least
    * `minOverlap` DISTINCT word-3-gram shingles with the evaluation set —
    * the standard n-gram-overlap contamination test run before training.
    *
    * Scale shape: the eval set is a benchmark — tiny and fixed relative
    * to a training corpus — so its distinct shingle set BROADCASTS; the
    * train side streams map-side through the broadcast join and the only
    * shuffle is the per-doc distinct-overlap count. No corpus self-join,
    * no eval-side shuffle. At 100 TB the train shingle stream is the scan
    * itself; nothing scales with corpus × benchmark.
    */
  def decontaminate(train: DataFrame, eval: DataFrame,
                    minOverlap: Int): DataFrame = {
    // Row-local probe against the broadcast eval shingle SET (r21): the
    // former explode → broadcast join → count_distinct groupBy shuffled
    // every surviving (doc_id, shingle) occurrence and paid the distinct
    // aggregation's Expand pass; the per-doc distinct-overlap count is a
    // pure function of the doc's own text and the (benchmark-small) eval
    // set, so it computes in ONE pass with zero exchange. Kernel choice
    // and Jaccard-of-measurement pedigree are the streaming operator's
    // ([[graft.streaming.DocStream.decontaminate]], which now delegates
    // here): string-in/long-out UDF beat array_intersect (re-hashes the
    // eval array per row) and the array-typed UDF (ArrayData→Seq per
    // eval) at sf0.1. Shingling stays in lockstep with
    // [[Dedup.shingles3]]: split on single spaces KEEPING empties,
    // 3-word windows, distinct. `minOverlap` ≥ 1 keeps the batch join's
    // can't-emit-overlap-0 contract.
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    val evalSh = Dedup.shingles3(eval).select("shingle").distinct()
      .collect().map(_.getString(0)).toSet
    val b = train.sparkSession.sparkContext.broadcast(evalSh)
    val overlap = udf((text: String) => {
      // null text flags nothing, like the join over empty shingles
      // (reference-typed UDF args receive the null, not skipped)
      if (text == null) 0L
      else {
        val w = text.trim.split(" ", -1)
        if (w.length < 3) 0L
        else w.sliding(3).map(_.mkString(" ")).toSet
          .count(b.value.contains).toLong
      }
    })
    // explode(array(struct)) seal: the filter below would otherwise be
    // pushed under the projection and the UDF would evaluate twice per
    // row (once in the Filter, again in the Project — guide §4.4's
    // duplicated-UDF shape, visible in the unsealed plan)
    train
      .select(col("doc_id"),
        explode(array(struct(overlap(col("text")).as("n")))).as("s"))
      .select(col("doc_id"), col("s.n").as("n_overlap"))
      .where(col("n_overlap") >= minOverlap)
  }

  /** SQL mirror of [[decontaminate]] with the eval set = doc_id % 97 = 0
    * (the gate's deterministic split). `shingles3Sql`'s `sh` CTE is
    * already per-doc distinct.
    */
  def decontaminateSql(minOverlap: Int): String =
    s"""WITH ${Dedup.shingles3Sql},
       |eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
       |SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_overlap
       |FROM sh s JOIN eval_sh e USING (shingle)
       |WHERE s.doc_id % 97 <> 0
       |GROUP BY 1 HAVING COUNT(DISTINCT s.shingle) >= $minOverlap
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- stratified sampling

  /** First 32 bits of md5(doc_id) as a uniform [0, 2^32) draw — THE
    * sampling hash: [[sampleStratified]] thresholds it,
    * [[sampleByCluster]] orders by it. Single-sourced so the documented
    * cross-operator consistency (and the DuckDB mirrors') cannot drift.
    */
  private def uniformHash: Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")

  /** Deterministic stratified sampling: keep a document iff the first 32
    * bits of md5(doc_id) fall below its stratum's rate — reproducible
    * across runs/engines (no RNG state), stable under corpus growth (a
    * doc's fate never depends on other docs), and exactly the mixing
    * primitive a training pipeline uses to reweight sources.
    *
    * Purely map-side: no shuffle at all; the sample streams out of the
    * scan. Rates are per-`strataCol` value with a default for the rest.
    */
  def sampleStratified(docs: DataFrame, strataCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double): DataFrame = {
    val u = uniformHash
    val thr = rates.foldLeft(lit((defaultRate * 4294967296L).toLong)) {
      case (acc, (v, r)) =>
        when(col(strataCol) === v, lit((r * 4294967296L).toLong)).otherwise(acc)
    }
    docs.where(u < thr)
  }

  /** split of a doc-id column — a pure row-local function (the
    * [[sampleStratified]] md5 uniform hash against the val-fraction
    * threshold), so ANY frame carrying doc ids can be split-labeled with
    * zero joins and zero shuffles
    */
  private def splitOf(id: Column, valFrac: Double): Column =
    when(conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("long") < lit((valFrac * 4294967296L).toLong), "val")
      .otherwise("train")

  /** Deterministic train/val split assignment — the pipeline op every
    * training run starts with: membership is a pure function of doc_id
    * (hash threshold), so re-runs, late-arriving shards, and downstream
    * jobs all agree without a membership table. Output (doc_id, split).
    */
  def assignSplit(docs: DataFrame, valFrac: Double): DataFrame = {
    require(valFrac >= 0.0 && valFrac <= 1.0, s"bad valFrac $valFrac")
    docs.select(col("doc_id"), splitOf(col("doc_id"), valFrac).as("split"))
  }

  /** A frame narrowed to one side of the deterministic split — the
    * row-local predicate form of [[assignSplit]] (no membership join, no
    * shuffle), so train/val scoping composes with any operator that
    * carries doc ids. `split` is "train" or "val".
    */
  def onSplit(docs: DataFrame, valFrac: Double, split: String): DataFrame = {
    require(valFrac >= 0.0 && valFrac <= 1.0, s"bad valFrac $valFrac")
    require(split == "train" || split == "val", s"bad split $split")
    docs.where(splitOf(col("doc_id"), valFrac) === split)
  }

  /** SQL predicate selecting [[onSplit]]'s membership over a doc-id
    * column — compose into any mirror's WHERE.
    */
  def onSplitPredSql(idCol: String, valFrac: Double,
                     split: String): String = {
    val thr = (valFrac * 4294967296L).toLong
    val isVal = s"CAST('0x' || substr(md5(CAST($idCol AS VARCHAR)), 1, 8)" +
      s" AS BIGINT) < $thr"
    if (split == "val") isVal else s"NOT ($isVal)"
  }

  /** Split LEAKAGE AUDIT: near-duplicate pairs that CROSS the train/val
    * boundary — the eval-integrity check a hash split silently needs (a
    * val document whose near-dup sits in train leaks the answer).
    * Reads the corpus near-dup pair artifact the dedup job already
    * maintains ([[Dedup.minhashPairs]]); because split membership is a
    * pure row-local function of the id, the audit adds ZERO joins and
    * ZERO shuffles on top of it — each pair labels itself. Output
    * (train_doc, val_doc, jaccard), oriented.
    */
  def splitLeakage(pairs: DataFrame, valFrac: Double): DataFrame = {
    val sa = splitOf(col("doc_a"), valFrac)
    val sb = splitOf(col("doc_b"), valFrac)
    pairs
      .where(sa =!= sb)
      .select(
        when(sa === "train", col("doc_a")).otherwise(col("doc_b"))
          .as("train_doc"),
        when(sa === "train", col("doc_b")).otherwise(col("doc_a"))
          .as("val_doc"),
        col("jaccard"))
  }

  /** SQL mirror of [[assignSplit]] over `documents`. */
  def assignSplitSql(valFrac: Double): String = {
    val thr = (valFrac * 4294967296L).toLong
    s"""SELECT doc_id,
       |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
       |            AS BIGINT) < $thr THEN 'val' ELSE 'train' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** SQL mirror of [[splitLeakage]] over the pair CTE `pairs`
    * (compose with [[Dedup.minhashPairsSql]]).
    */
  def splitLeakageSql(pairsSql: String, valFrac: Double): String = {
    val thr = (valFrac * 4294967296L).toLong
    def s(c: String) =
      s"(CASE WHEN CAST('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 8) " +
        s"AS BIGINT) < $thr THEN 'val' ELSE 'train' END)"
    s"""WITH pairs AS ($pairsSql)
       |SELECT CASE WHEN ${s("doc_a")} = 'train' THEN doc_a ELSE doc_b END
       |         AS train_doc,
       |       CASE WHEN ${s("doc_a")} = 'train' THEN doc_b ELSE doc_a END
       |         AS val_doc,
       |       jaccard
       |FROM pairs WHERE ${s("doc_a")} <> ${s("doc_b")}
       |ORDER BY train_doc, val_doc""".stripMargin
  }

  /** SQL mirror of [[sampleStratified]] over `documents`. */
  def sampleStratifiedSql(strataCol: String, rates: Map[String, Double],
                          defaultRate: Double, selectCols: String): String = {
    val cases = rates.toSeq.sortBy(_._1).map { case (v, r) =>
      s"WHEN $strataCol = '$v' THEN ${(r * 4294967296L).toLong}"
    }.mkString(" ")
    s"""SELECT $selectCols FROM documents
       |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
       |      < CASE $cases ELSE ${(defaultRate * 4294967296L).toLong} END
       |ORDER BY doc_id""".stripMargin
  }

  /** FUZZY benchmark decontamination — the GPT-3-appendix posture:
    * instead of exact n-gram overlap ([[decontaminate]]), a train
    * document is contaminated when it is a MinHash NEAR-DUPLICATE of an
    * eval document. Takes the corpus near-dup pair set (the materialized
    * artifact every dedup job already maintains —
    * [[Dedup.minhashPairs]] over train ∪ eval) and the eval id set, and
    * keeps the pairs that CROSS the split, oriented (train, eval).
    * Incremental cost over the dedup you were already running: two
    * broadcast marker joins and a filter.
    *
    * Output: (doc_id, eval_id, jaccard) — one row per contaminated
    * (train, eval) pair.
    */
  def decontaminateFuzzy(pairs: DataFrame, evalIds: DataFrame): DataFrame = {
    val e = broadcast(evalIds.select(col("doc_id").as("eid")))
    pairs
      .join(e, col("doc_a") === col("eid"), "left")
      .withColumn("a_eval", col("eid").isNotNull).drop("eid")
      .join(e, col("doc_b") === col("eid"), "left")
      .withColumn("b_eval", col("eid").isNotNull).drop("eid")
      .where(col("a_eval") =!= col("b_eval"))
      .select(
        when(col("a_eval"), col("doc_b")).otherwise(col("doc_a"))
          .as("doc_id"),
        when(col("a_eval"), col("doc_a")).otherwise(col("doc_b"))
          .as("eval_id"),
        col("jaccard"))
  }

  /** SQL mirror of [[decontaminateFuzzy]] with eval = `doc_id % mod = 0`
    * over the [[Dedup.minhashPairsSql]] pair set.
    */
  def decontaminateFuzzySql(threshold: Double, mod: Int): String =
    s"""SELECT CASE WHEN doc_a % $mod = 0 THEN doc_b ELSE doc_a END
       |         AS doc_id,
       |       CASE WHEN doc_a % $mod = 0 THEN doc_a ELSE doc_b END
       |         AS eval_id,
       |       jaccard
       |FROM (${Dedup.minhashPairsSql(threshold)}) pr
       |WHERE (doc_a % $mod = 0) <> (doc_b % $mod = 0)
       |ORDER BY doc_id, eval_id""".stripMargin

  /** Per-source quota sampling: keep at most `quota` documents per
    * source, chosen hash-first (the [[sampleStratified]] md5(doc_id)
    * uniform order, ties impossible) — the cap that stops any one
    * domain from dominating a crawl mix while keeping the draw
    * deterministic and engine-reproducible. Window-group-limited like
    * [[topkByQuality]]: each task keeps its local `quota` before the
    * exchange (InferWindowGroupLimit), so the shuffle carries
    * O(partitions × quota) rows per source.
    */
  def sampleQuota(docs: DataFrame, strataCol: String,
                  quota: Int): DataFrame = {
    // doc_id tie-break: the 32-bit hash prefix can collide at corpus
    // scale, and a collision straddling the quota boundary would be
    // engine-nondeterministic without it
    val w = Window.partitionBy(col(strataCol))
      .orderBy(uniformHash.asc, col("doc_id").asc)
    docs.select(col(strataCol), col("doc_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= quota)
  }

  /** SQL mirror of [[sampleQuota]] over `documents`. */
  def sampleQuotaSql(strataCol: String, quota: Int): String =
    s"""SELECT $strataCol, doc_id, rank FROM (
       |  SELECT $strataCol, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY $strataCol
       |           ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT),
       |                    doc_id)
       |           AS rank
       |  FROM documents)
       |WHERE rank <= $quota
       |ORDER BY $strataCol, rank""".stripMargin

  // ------------------------------------- weighted sampling (A-ES keys)

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirtes 2006,
    * the A-ES one-pass scheme): item `i` draws exponential arrival key
    * `e_i = −ln(u_i) / w_i` and the k SMALLEST keys are the sample —
    * inclusion probability proportional to weight, no sequential pass,
    * no global weight total. The uniform is the engine's deterministic
    * md5(doc_id) hash (+0.5 keeps it off 0), so membership is
    * reproducible and the DuckDB mirror lands on the same keys; the one
    * transcendental (`ln`) rounds to 9dp per convention. Zero-or-
    * negative weights are excluded (they cannot be sampled).
    *
    * Scale shape: row-local key + TakeOrderedAndProject — one scan, the
    * shuffle carries O(partitions × k) candidate rows.
    *
    * Output: (doc_id, weight, key), key ascending.
    */
  def sampleWeighted(docs: DataFrame, weightCol: Column,
                     k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (uniformHash.cast("double") + 0.5) / 4294967296.0
    val key = round(-log(u) / weightCol.cast("double"), 9)
    docs.where(weightCol > 0.0)
      .select(col("doc_id"), weightCol.cast("double").as("weight"),
        key.as("key"))
      .orderBy(col("key").asc, col("doc_id").asc)
      .limit(k)
  }

  /** SQL mirror of [[sampleWeighted]] over `documents`.
    * @param weightSql weight expression (e.g. `n_chars`)
    */
  def sampleWeightedSql(weightSql: String, k: Int): String =
    s"""SELECT doc_id, CAST($weightSql AS DOUBLE) AS weight,
       |  ROUND(-ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
       |          1, 8) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
       |      / CAST($weightSql AS DOUBLE), 9) AS key
       |FROM documents WHERE $weightSql > 0
       |ORDER BY key ASC, doc_id ASC LIMIT $k""".stripMargin

  // ------------------------------------------------- per-stratum top-k

  /** Keep the k highest-quality documents per stratum (quality from
    * [[TextOps.withQuality]]; ties broken on doc_id — deterministic).
    *
    * Expressed as a rank-filtered window so Catalyst's
    * InferWindowGroupLimit rewrites it to a per-partition group limit:
    * each task keeps only its local top-k per stratum BEFORE the
    * exchange, so the shuffle carries O(partitions × k) rows per stratum,
    * not the stratum's full row set — the two-phase top-k shape by
    * optimizer rewrite rather than by hand (asserted in PlanSpec).
    */
  def topkByQuality(docs: DataFrame, strataCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("quality").desc, col("doc_id"))
    TextOps.withQuality(docs)
      .select(col(strataCol), col("doc_id"), col("quality"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Cluster-balanced sampling — diversity-aware curation: instead of a
    * metadata stratum (language, source), strata are EMBEDDING clusters
    * (the frozen first-`nCells` coarse quantizer from the ANN path,
    * [[Similarity.ivfAssign]]), and each cluster keeps exactly its
    * `perCell` hash-first documents. Balancing on content clusters is the
    * standard counter to topic collapse in web corpora: a dominant near-
    * duplicate topic (one giant cell) contributes `perCell` docs, the
    * same as a rare one. Selection within a cell orders by the SAME
    * md5(doc_id) uniform hash as [[sampleStratified]] (ties impossible —
    * doc_id breaks), so the draw is uniform-at-random yet deterministic
    * and engine-reproducible.
    *
    * Scale shape: centroid assignment is the broadcast-quantizer join
    * ([[Similarity.ivfAssign]] — corpus never shuffles for it), the
    * doc↔embedding bridge is an equi-join on the id, and the rank filter
    * is window-group-limited (each task keeps its local `perCell` before
    * the exchange — PlanSpec-asserted, same rewrite as [[topkByQuality]]).
    */
  def sampleByCluster(docs: DataFrame, emb: DataFrame, nCells: Int,
                      perCell: Int): DataFrame = {
    val assigned = Similarity.ivfAssign(emb, Similarity.ivfCents(emb, nCells))
      .select(col("vec_id"), col("cell"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(uniformHash.asc, col("doc_id").asc)
    docs.join(assigned, docs("doc_id") === assigned("vec_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("cell"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= perCell)
  }

  /** SQL mirror of [[sampleByCluster]] over `documents` × `embeddings` —
    * the assignment CTEs come from [[Similarity.assignedCteSql]], the
    * same prefix every IVF-family oracle opens with.
    */
  def sampleByClusterSql(nCells: Int, dim: Int, perCell: Int): String = {
    s"""WITH ${Similarity.assignedCteSql(nCells, dim)},
       |ranked AS (
       |  SELECT d.doc_id, d.lang, d.source, a.cell,
       |         ROW_NUMBER() OVER (PARTITION BY a.cell
       |           ORDER BY CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT),
       |                    d.doc_id) AS rank
       |  FROM documents d JOIN assigned a ON d.doc_id = a.vec_id)
       |SELECT doc_id, lang, source, cell, rank FROM ranked
       |WHERE rank <= $perCell
       |ORDER BY cell, rank""".stripMargin
  }

  // ------------------------------------------- temperature mixture sampling

  /** Temperature-flattened domain mixture (α = 1/2): stratum `s` with
    * `n_s` documents keeps rate `min(1, sqrt(nRef / n_s))` — strata at or
    * below the `nRef` reference size pass through whole, a stratum 100×
    * `nRef` keeps 10%. This is the inverse-power acceptance rule behind
    * multilingual/domain temperature sampling (rate ∝ n^(α-1)): it pulls
    * an over-represented head domain toward the tail without starving
    * either. The acceptance draw is the shared md5(doc_id) uniform hash
    * ([[sampleStratified]]), so membership is deterministic and
    * engine-reproducible; `sqrt`/division are correctly-rounded IEEE ops,
    * so the thresholds agree bit-for-bit with the SQL mirror.
    *
    * Scale shape: the per-stratum count is a partial-aggregated shuffle of
    * one row per stratum; the rate table (|strata| rows) broadcasts back
    * onto the corpus scan — the corpus itself never shuffles.
    */
  def sampleMixture(docs: DataFrame, strataCol: String,
                    nRef: Long): DataFrame = {
    val thr = floor(
      least(lit(1.0), sqrt(lit(nRef.toDouble) / col("n_docs"))) *
        4294967296.0).cast("long")
    val rates = docs.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"))
      .select(col(strataCol), col("n_docs"), thr.as("keep_thr"))
    docs.join(broadcast(rates), Seq(strataCol))
      .where(uniformHash < col("keep_thr"))
      .select(col("doc_id"), col(strataCol), col("source"),
        col("n_docs"), col("keep_thr"))
  }

  /** SQL mirror of [[sampleMixture]] over `documents`. */
  def sampleMixtureSql(strataCol: String, nRef: Long): String =
    s"""WITH c AS (SELECT $strataCol, COUNT(*) AS n_docs
       |           FROM documents GROUP BY 1),
       |r AS (SELECT $strataCol, n_docs,
       |          CAST(FLOOR(LEAST(1.0,
       |                 SQRT(CAST($nRef AS DOUBLE) / n_docs))
       |               * 4294967296.0) AS BIGINT) AS keep_thr
       |      FROM c)
       |SELECT d.doc_id, d.$strataCol, d.source, r.n_docs, r.keep_thr
       |FROM documents d JOIN r USING ($strataCol)
       |WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
       |      < r.keep_thr
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------ token-budget packing

  /** Contiguous token-budget chunking — the deterministic index-assignment
    * step of sequence packing: documents are laid out in doc_id order
    * within each `source` stream and assigned chunk
    * floor(tokens_before_doc / budget), so consecutive docs share a chunk
    * until the running token count crosses the budget.
    *
    * Scale shape: one window partitioned by `source` — streams pack
    * independently and in parallel; no global ordering exists anywhere in
    * the plan (a single global cumsum would serialize — deliberately
    * avoided). The within-partition sort is the scan order under the
    * production layout's in-file sort.
    */
  def packTokenBudget(docs: DataFrame, budget: Long): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("source"), col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tokens"))
      .withColumn("chunk_id",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / budget))
  }

  /** SQL mirror of [[packTokenBudget]] over `documents`. */
  def packTokenBudgetSql(budget: Long): String =
    s"""SELECT source, doc_id,
       |  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
       |  CAST(FLOOR((SUM(CAST(len(string_split(trim(text), ' ')) AS BIGINT))
       |         OVER (PARTITION BY source ORDER BY doc_id
       |               ROWS UNBOUNDED PRECEDING)
       |       - CAST(len(string_split(trim(text), ' ')) AS BIGINT))
       |      / $budget) AS BIGINT) AS chunk_id
       |FROM documents ORDER BY source, doc_id""".stripMargin

  /** SQL mirror of [[topkByQuality]] by lang over `documents`; the quality
    * subexpression mirrors [[TextOps.qualitySql]].
    */
  def topkByQualitySql(k: Int): String = {
    val stops = TextOps.Stopwords.map(s =>
      s"CAST(len(list_filter(w, x -> x = '$s')) AS DOUBLE)").mkString(" + ")
    s"""WITH q AS (
       |  SELECT lang, doc_id,
       |    0.4*(($stops)/nw) +
       |    0.3*(1.0 - CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)/length(text)) +
       |    0.3*LEAST(((CAST(length(text) AS DOUBLE) - (nw - 1))/nw)/10.0, 1.0) AS quality
       |  FROM (SELECT lang, doc_id, text, string_split(trim(text), ' ') AS w,
       |               CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS nw
       |        FROM documents))
       |SELECT lang, doc_id, quality, rank FROM (
       |  SELECT lang, doc_id, quality,
       |         ROW_NUMBER() OVER (PARTITION BY lang
       |                            ORDER BY quality DESC, doc_id) AS rank
       |  FROM q)
       |WHERE rank <= $k ORDER BY lang, rank""".stripMargin
  }
}
