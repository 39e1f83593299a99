package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deduplication operators for large-scale document corpora (builder brief;
  * beyond the reference surface, SURVEY §2.10 north star).
  *
  * Five dedup families, all expressed as shuffle-bounded DataFrame plans —
  * no driver-side loops, no O(n²) cross joins (every pairwise op is blocked
  * by a bucket key first, so the quadratic term is per-bucket only):
  *
  *   - exact:        hash-groupBy on full text
  *   - MinHash+LSH:  shingle → k minhashes → banded bucket join →
  *                   exact-Jaccard verification of candidates
  *   - SimHash:      per-word 32-bit hashes folded to a sign fingerprint;
  *                   candidates block on the high bits, rank by Hamming
  *   - n-gram Jaccard: exact shingle-set similarity over blocked pairs
  *   - embedding near-dup: cosine over LSH-bucketed vector pairs
  *
  * All hashes are md5-derived so the DuckDB oracle can reproduce them
  * exactly; the similarity arithmetic uses integer/fixed-point folds
  * (see [[VectorOps]]) for cross-engine bit-equality.
  */
object Dedup {

  /** Per-band-bucket cap on candidate expansion (docs per (band_idx,
    * bh) key entering the pair self-join). A band bucket of size k
    * expands to k(k−1)/2 candidate pairs INSIDE ONE JOIN KEY — on a
    * boilerplate-heavy corpus (thousands of near-identical docs
    * sharing a band) a single shuffle task owns a quadratic blow-up in
    * both time and output (r16 verdict #4). The bound follows the
    * gopher-rules posture: an EXPLICIT, parameterized, disclosed
    * default — buckets over the cap are excluded from pair expansion
    * wholesale (never partially, so the pair set stays symmetric) and
    * surfaced by [[hotBands]] for the pipeline to route to its own
    * degenerate-cluster handling (canonical-keep, quota, manual
    * review). 1000 bounds any single key at ~500k expansions; every
    * gate corpus sits far below it, so gate results ≡ the uncapped
    * oracle mirrors.
    */
  val MaxBandBucket = 1000

  /** Conf-first resolution of the hot-band cap (the same class of
    * fixture-constant the r17 sim-sizing knobs closed:
    * `spark.graft.dql.sim.ncells` went conf-first, this cap follows) —
    * `spark.graft.dedup.maxBandBucket` pins an explicit value, read
    * LIVE on every candidate build so a conf change after the first
    * query takes effect; unset falls back to [[MaxBandBucket]]. A
    * deployment tunes it against its own boilerplate profile (the cap
    * bounds ONE shuffle task's pair expansion at ~cap²/2), the gate
    * harness leaves it unset so every oracle corpus sits far below it.
    */
  val MaxBandBucketConf = "spark.graft.dedup.maxBandBucket"

  def maxBandBucket(spark: SparkSession): Int =
    spark.conf.getOption(MaxBandBucketConf).map { raw =>
      val v = try raw.trim.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$MaxBandBucketConf must be a positive integer, got '$raw'")
      }
      if (v < 1) throw new IllegalArgumentException(
        s"$MaxBandBucketConf must be a positive integer, got '$raw'")
      v
    }.getOrElse(MaxBandBucket)

  /** caller-explicit cap wins (> 0); 0 = "resolve from conf/default" —
    * the sentinel keeps `maxBucket = Int.MaxValue`-style explicit
    * overrides working while the no-argument forms honor the conf
    */
  private def resolveCap(df: DataFrame, maxBucket: Int): Int = {
    require(maxBucket >= 0,
      s"maxBucket must be >= 0 (0 = conf/default), got $maxBucket")
    if (maxBucket > 0) maxBucket else maxBandBucket(df.sparkSession)
  }

  /** The disclosure companion of [[MaxBandBucket]]: the band buckets a
    * capped candidate build EXCLUDED, with their sizes — over a band
    * index ([[bandIndex]] schema) or any (doc_id, band_idx, bh) frame.
    * One map-side-combinable count aggregation. `maxBucket` 0 (the
    * default) resolves via [[maxBandBucket]].
    */
  def hotBands(index: DataFrame, maxBucket: Int = 0): DataFrame =
    index.groupBy("band_idx", "bh")
      .agg(count(lit(1)).as("n"))
      .where(col("n") > resolveCap(index, maxBucket))

  /** band keys annotated + filtered to buckets within the cap: one
    * window count over the join's own (band_idx, bh) partitioning, so
    * the filter adds no exchange the self-join would not already pay
    */
  private def withinCap(keys: DataFrame, maxBucket: Int): DataFrame =
    keys
      .withColumn("bn", count(lit(1)).over(
        Window.partitionBy(col("band_idx"), col("bh"))))
      .where(col("bn") <= maxBucket)
      .drop("bn")

  /** (doc_id, w: array<string>) — whitespace tokenization.
    *
    * The downstream explode→md5 stages are compute-bound, so they must
    * not inherit a narrow storage layout: a corpus that arrives as fewer
    * splits than cores (the local-test shape — one small parquet file =
    * one split) would hash single-threaded. Widen to the cluster's
    * default parallelism in that case; when the scan already yields at
    * least that many splits (any realistic 100 TB layout), this is a
    * no-op — no shuffle is added.
    */
  def withWords(docs: DataFrame): DataFrame =
    graft.core.Parallel.widen(docs)
      .withColumn("w", split(trim(col("text")), " "))

  /** RAW (doc_id, shingle) occurrences of 3-word shingles — deliberately
    * NOT deduplicated (consumers that need set semantics dedupe their
    * own slice). Since r16 the minhash/ngram candidate build no longer
    * reads this at all (signature and verify sets are row-local); the
    * exploded form remains the right shape for the decontamination
    * overlap joins and the repetition counters.
    */
  def shingles3(docs: DataFrame): DataFrame =
    withWords(docs)
      .where(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))
          .as("shingle"))

  val shingles3Sql: String =
    """ws AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, s AS shingle
      |       FROM ws, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                        for i in range(1, len(w)-1)]) AS t(s)
      |       WHERE len(w) >= 3)""".stripMargin

  // ---------------------------------------------------------------- exact

  /** Exact dedup: one row per distinct text with its canonical (minimum)
    * doc_id and multiplicity. One shuffle on the text hash.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  val exactSql: String =
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id,
      |       COUNT(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  // ------------------------------------------------------------- minhash

  val Seeds = 3     // md5 invocations per shingle
  val Channels = 4  // independent 8-hex-char minhash channels per md5
  val Bands = Seeds // one band per seed (4 rows each) → 12 minhashes

  /** MinHash+LSH near-dup pairs with exact-Jaccard verification.
    * Returns (doc_a, doc_b, jaccard) for candidates sharing an LSH band
    * whose true shingle-set Jaccard ≥ threshold.
    *
    * 12 minhash functions from only 3 md5 calls per shingle: each md5's 32
    * hex chars split into 4 independent 8-char channels (md5 output bits
    * are independent); the per-seed md5 is projected ONCE before the
    * aggregation so the hash cost is 3/shingle, not 12.
    */
  def minhashPairs(docs: DataFrame, threshold: Double): DataFrame = {
    // signatures are row-local (native kernel — no shingle rows exist
    // for the candidate build at all); the shingle explode runs only
    // for the candidate-pruned verify slice
    val (pairs, mel) = bandedCandidates(signatureRowLocal(docs, 3))
    val (out, shp) = verifyJaccard(pairs, docs, 3, threshold)
    Persist.handoff(out, pairs, mel, shp)
  }

  /** the minhash channel back in its original 8-hex-char form */
  private def mhHex(c: Column): Column = lpad(lower(hex(c)), 8, "0")

  /** The signature computed ROW-LOCALLY per document — one scan, zero
    * exchange, no shingle explode: the native [[graft.expr
    * .MinhashChannels]] kernel emits all Seeds×Channels minima in one
    * pass per doc (bit-identical to the composed explode → md5 → per-doc
    * min signature over the same text — MinhashChannelsSpec fuzzes the
    * equality). The per-doc signature is
    * a pure function of the doc's own shingles, so at 100 TB this turns
    * the candidate build's signature stage from
    * explode→hash→aggregate→shuffle into a projection. The
    * `explode(array(struct))` seal is the generator barrier: `mh` is
    * referenced Seeds×Channels times downstream, and without the seal
    * construction-time splicing would re-run the kernel per reference.
    */
  private[graft] def signatureRowLocal(docs: DataFrame,
                                       n: Int): DataFrame = {
    val mh = graft.expr.MinhashChannels(col("text"), n, Seeds, Channels)
    graft.core.Parallel.widen(docs)
      .select(col("doc_id"), explode(array(struct(mh.as("mh")))).as("s"))
      .select(col("doc_id"), col("s.mh").as("mh"))
      .where(col("mh").isNotNull)
      .select(col("doc_id") +:
        (for (sd <- 0 until Seeds; c <- 0 until Channels)
          yield element_at(col("mh"), sd * Channels + c + 1)
            .as(s"mh${sd}_$c")): _*)
  }

  /** The static near-dup INDEX for a corpus: one row per (doc, band) with
    * the banded minhash key and the doc's distinct shingle set —
    * everything [[graft.streaming.DocStream.nearDupAgainstIndex]] needs to
    * flag an incoming document against the corpus with one equi-join and a
    * row-local exact-Jaccard verify. Same signature derivation as
    * [[minhashPairs]], so a probe with the row-local streaming signature
    * lands in exactly the buckets the batch dedup would.
    *
    * Scale note: Bands rows per corpus doc, each carrying the shingle-set
    * array (bounded by single-document length). In production this is a
    * materialized table partitioned/bucketed by (band_idx, bh) so the
    * per-micro-batch stream-static join prunes to the probed buckets.
    */
  def bandIndex(docs: DataFrame): DataFrame = {
    // ZERO-SHUFFLE build (r16): the signature comes from the native
    // row-local kernel and the distinct shingle SET is a row-local
    // array derivation over the same word split, so bands and set ride
    // the same row and the old signature aggregation, collect_set
    // aggregation, AND doc-keyed join all disappear — one scan at any
    // corpus size. Set ORDER differs from the collect_set form; every
    // consumer (array_intersect Jaccard) is order-insensitive.
    val mh = graft.expr.MinhashChannels(col("text"), 3, Seeds, Channels)
    val ssArr = distinctShingles(3)
    val bandCols = (0 until Bands).map(b =>
      md5(concat((0 until Channels).map(c =>
        mhHex(element_at(col("mh"), b * Channels + c + 1))): _*))
        .as(s"band$b"))
    val stackExpr = (0 until Bands).map(b => s"$b, band$b").mkString(", ")
    withWords(docs)
      .where(size(col("w")) >= 3)
      // generator barrier: mh is read Seeds*Channels times and ss once
      .select(col("doc_id"),
        explode(array(struct(mh.as("mh"), ssArr.as("ss")))).as("s"))
      .select(col("doc_id"), col("s.mh").as("mh"), col("s.ss").as("ss"))
      .where(col("mh").isNotNull)
      .select(col("doc_id") +: col("ss") +: bandCols: _*)
      .selectExpr("doc_id", "ss",
        s"stack($Bands, $stackExpr) as (band_idx, bh)")
      .select("doc_id", "band_idx", "bh", "ss")
  }

  /** Append maintenance for the near-dup band index (r15 verdict: the
    * gram-count artifacts gained a merge path, the band index stayed
    * batch-refresh-only). Band-index rows are a PURE PER-DOC function of
    * each document's own shingles, so maintenance is the degenerate —
    * and cheapest — algebraic merge: new docs UNION in with signatures
    * computed for the DELTA ONLY, and the base corpus is never
    * re-shingled or re-hashed. (The gram-count artifacts need the
    * counts-add/keys-min full-outer merge because their keys collide
    * across documents; band-index keys are (doc, band), disjoint under
    * append.) Assumes delta doc ids are new, like the other appends.
    */
  def bandIndexAppend(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(bandIndex(delta))

  /** Near-dup pairs read OFF a band-index artifact — the batch form of
    * the per-arrival probe ([[graft.streaming.DocStream]]'s index join),
    * and the proof obligation for [[bandIndexAppend]]: candidates share
    * ≥ 1 band key, and the exact-Jaccard verify is ROW-LOCAL over the
    * shingle sets the index already carries (same intersection/union
    * arithmetic as [[minhashPairs]]'s verify, so the values match the
    * full-rebuild oracle bit-for-bit). The only shuffles are the band
    * self-join and two doc-keyed set joins — the corpus text is never
    * touched.
    */
  def minhashPairsFromIndex(index: DataFrame, threshold: Double,
                            maxBucket: Int = 0): DataFrame = {
    val cap = resolveCap(index, maxBucket)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // pin: the key self-join and the two set joins would otherwise
    // recompute the (appended) index once per consumer side. An index
    // that arrives ALREADY persisted (a maintained memoized/sanctioned
    // artifact) is used as-is and NEVER registered for release — this
    // call must not unpersist a shared artifact out from under its
    // other consumers (and re-persisting at a different level throws)
    val callerPinned =
      index.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val idx = if (callerPinned) index else index.persist(lvl)
    // hot-band cap ([[MaxBandBucket]]): buckets past the cap never
    // enter the self-join — excluded pairs are a DISCLOSED bound, read
    // them back via [[hotBands]](index, maxBucket)
    val keys = withinCap(
      idx.select(col("doc_id"), col("band_idx"), col("bh")), cap)
    val cand = keys.as("x").join(keys.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.bh") === col("y.bh") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // one set row per doc WITHOUT aggregating: every doc carries exactly
    // Bands identical ss copies, so band 0's row is the set (a
    // dropDuplicates here would first(ss) an array buffer —
    // SortAggregate demotion, caught by PlanAudit.sortAggDemotions)
    val sets = idx.where(col("band_idx") === 0)
      .select(col("doc_id"), col("ss"))
    val out = cand
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("i", size(array_intersect(col("sa.ss"), col("sb.ss"))))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") /
          (size(col("sa.ss")) + size(col("sb.ss")) - col("i")))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
    if (callerPinned) out else Persist.handoff(out, idx)
  }

  /** Returns (candidate pairs, melted band-key pin). Both frames are
    * persisted; callers hand both to [[Persist.handoff]]'s release list.
    */
  private def bandedCandidates(sig: DataFrame): (DataFrame, DataFrame) = {
    val bandCols = (0 until Bands).map(b =>
      md5(concat((0 until Channels).map(c => mhHex(col(s"mh${b}_$c"))): _*))
        .as(s"band$b"))
    val banded = sig.select(col("doc_id") +: bandCols: _*)
    val stackExpr = (0 until Bands).map(b => s"$b, band$b").mkString(", ")
    // pin the melted band keys (Bands rows per doc — corpus-small, nothing
    // like the shingle table) BEFORE the self-join: without it the x and y
    // sides each recompute the whole shingle→md5→signature pipeline, i.e.
    // the corpus is exploded and hashed twice per candidate build —
    // measured as the dominant cost of dedup_ngram (2.1s of 4.2s steady
    // at sf0.1; with the pin the signature computes once)
    // the hot-band cap runs BEFORE the pin: the window count shares the
    // self-join's (band_idx, bh) partitioning, so the pinned frame is
    // already join-partitioned and the cap costs no extra exchange
    // (excluded buckets are the disclosed [[maxBandBucket]] bound)
    val melted = withinCap(banded.selectExpr("doc_id",
      s"stack($Bands, $stackExpr) as (band_idx, bh)"),
      maxBandBucket(sig.sparkSession))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = melted.as("x").join(melted.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.bh") === col("y.bh") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      // the candidate set is consumed twice downstream (broadcast prune +
      // verification joins) and is tiny relative to the corpus — persist so
      // the band join doesn't run once per consumer
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (pairs, melted)
  }

  /** the shared signature → banded → melted CTE chain (given a shingle
    * CTE `sh` in scope): the SQL derivation of the band keys both the
    * pair mirror and the hot-band disclosure mirror read
    */
  private def sigBandMeltSql: String = {
    val mhs = (for (s <- 0 until Seeds; c <- 0 until Channels)
      yield s"MIN(substr(md5('$s|' || shingle), ${c * 8 + 1}, 8)) AS mh${s}_$c")
      .mkString(", ")
    val bandDefs = (0 until Bands).map(b =>
      s"md5(${(0 until Channels).map(c => s"mh${b}_$c").mkString(" || ")}) AS band$b")
      .mkString(", ")
    val melted = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS band_idx, band$b AS bh FROM banded")
      .mkString(" UNION ALL ")
    s"""sig AS (SELECT doc_id, $mhs FROM sh GROUP BY doc_id),
       |banded AS (SELECT doc_id, $bandDefs FROM sig),
       |melted AS ($melted)""".stripMargin
  }

  /** DuckDB mirror of [[bandIndex]] ∘ [[hotBands]]: band-bucket sizes
    * over the same signature derivation, filtered past the cap.
    */
  def hotBandsSql(maxBucket: Int): String =
    s"""WITH $shingles3Sql,
       |$sigBandMeltSql
       |SELECT band_idx, bh, CAST(COUNT(*) AS BIGINT) AS n
       |FROM melted GROUP BY 1, 2
       |HAVING COUNT(*) > $maxBucket
       |ORDER BY band_idx, bh""".stripMargin

  /** SQL mirror of [[bandedCandidates]] + [[verifyJaccard]] given a shingle
    * CTE named `sh` already in scope; emits CTE bodies `sig … pairs` and the
    * final verified SELECT.
    */
  private def bandedVerifySql(threshold: Double): String = {
    s"""$sigBandMeltSql,
       |pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM melted x JOIN melted y
       |          ON x.band_idx = y.band_idx AND x.bh = y.bh
       |             AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS i
       |          FROM pairs p
       |          JOIN sh a ON a.doc_id = p.doc_a
       |          JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       CAST(i AS DOUBLE)/(za.sz + zb.sz - i) AS jaccard
       |FROM inter
       |JOIN sizes za ON za.doc_id = doc_a
       |JOIN sizes zb ON zb.doc_id = doc_b
       |WHERE CAST(i AS DOUBLE)/(za.sz + zb.sz - i) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** the row-local distinct n-word shingle SET over the withWords
    * array `w` — the same elements collect_set over the shingle explode
    * yields (order differs; every consumer is array_intersect, which is
    * order-insensitive)
    */
  private def distinctShingles(n: Int): Column = {
    val idx = (0 until n).map(i => s"w[i+$i]").mkString(", ")
    array_distinct(expr(
      s"transform(sequence(0, size(w)-$n), i -> concat_ws(' ', $idx))"))
  }

  /** exact |A∩B| / |A∪B| over candidate pairs; integer counts → the final
    * double division is deterministic. Returns the verified pairs plus the
    * pruned-shingle intermediate it persisted (for the caller's
    * [[Persist.handoff]] release list).
    *
    * Scale note: LSH candidates are a vanishing fraction of the corpus, so
    * the shingle table is semi-join-pruned to candidate docs FIRST (the
    * candidate id set broadcasts) — the intersection join then shuffles
    * only candidate shingles, not the full corpus's. Pure pruning: the
    * output is identical, so the DuckDB mirror keeps the direct joins.
    */
  private def verifyJaccard(pairs: DataFrame, docs: DataFrame, n: Int,
                            threshold: Double): (DataFrame, DataFrame) = {
    val cand = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // One shingle-SET row per candidate doc, computed ROW-LOCALLY from
    // the candidate-pruned docs (r16): the semi-join prunes first, then
    // the set is a per-row array derivation — no shingle explode, no
    // collect_set aggregation, no shuffle beyond the prune itself. The
    // pair verify stays two doc_id-keyed joins plus a codegen'd
    // array_intersect; array size is bounded by single-document length.
    val shp = withWords(
        docs.join(broadcast(cand), Seq("doc_id"), "left_semi"))
      .where(size(col("w")) >= n)
      .select(col("doc_id"), distinctShingles(n).as("ss"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verified = pairs
      .join(shp.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(shp.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("i", size(array_intersect(col("sa.ss"), col("sb.ss"))))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") /
          (size(col("sa.ss")) + size(col("sb.ss")) - col("i")))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
    (verified, shp)
  }

  def minhashPairsSql(threshold: Double): String =
    s"""WITH ${shingles3Sql},
       |${bandedVerifySql(threshold)}""".stripMargin

  // ------------------------------------------------------------- simhash

  /** 64-bit SimHash fingerprint per document, kept as two 32-bit halves
    * (`fp_hi`, `fp_lo`) so every intermediate fits a signed 64-bit lane in
    * both engines: per-word md5-derived hashes (one md5, two 8-hex-char
    * halves), ±1 vote per bit position, sign → bit.
    *
    * Plan shape: the fingerprint is a pure per-document function and every
    * word of a document is already in its row, so it computes ROW-LOCALLY
    * in one codegen'd native kernel ([[graft.expr.SimhashFp]]) — one md5
    * per word, ±1 votes in integer counters, sign bits packed per half.
    * Zero explode, zero shuffle, zero wide aggregation state. (The
    * previous explode + groupBy(doc_id) plan kept 64 SUM(CASE) aggregate
    * buffers per in-flight doc across 32 concurrent tasks — measured as
    * the round-8 bench breach under a memory-pressured heap; a
    * higher-order-function fold fixes the shuffle but pays the HOF
    * interpreter ~32 lambda evals per word per half — see SimhashFp.)
    */
  def simhash(docs: DataFrame): DataFrame =
    graft.core.Parallel.widen(docs)
      // null text DROPS the doc, as the previous explode + groupBy form
      // and the DuckDB oracle (string_split(NULL) → no rows) both do —
      // without this the nullable native expression would pass a
      // (doc_id, NULL, NULL) row through
      .where(col("text").isNotNull)
      .select(col("doc_id"), graft.expr.SimhashFp(col("text")).as("fparr"))
      .select(col("doc_id"), col("fparr").getItem(0).as("fp_hi"),
        col("fparr").getItem(1).as("fp_lo"))

  val simhashSql: String = {
    def votes(c: String, tag: String) = (0 until 32).map(j =>
      s"SUM(CASE WHEN ($c >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS $tag$j")
    val sums = (votes("hv_hi", "a") ++ votes("hv_lo", "b")).mkString(", ")
    def fold(tag: String) = (0 until 32).map(j =>
      s"(CASE WHEN $tag$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""wordsx AS (SELECT doc_id,
       |                  CAST('0x' || substr(md5(t.word), 1, 8) AS BIGINT) AS hv_hi,
       |                  CAST('0x' || substr(md5(t.word), 9, 8) AS BIGINT) AS hv_lo
       |           FROM (SELECT doc_id, string_split(trim(text), ' ') AS w
       |                 FROM documents) ws, unnest(ws.w) AS t(word)),
       |sums AS (SELECT doc_id, $sums FROM wordsx GROUP BY doc_id),
       |simhash AS (SELECT doc_id, ${fold("a")} AS fp_hi, ${fold("b")} AS fp_lo FROM sums)""".stripMargin
  }

  /** The 64-bit fingerprint split into 6 chunks (11/11/10 bits per half):
    * (name, bit-extract expr over fp_hi/fp_lo) in fixed order. Shared by
    * the Spark and SQL forms below — bit arithmetic only, so the same
    * expression text is valid in both engines.
    */
  private val SimhashChunks: Seq[(String, String)] = Seq(
    "c0" -> "(fp_hi >> 21) & 2047", "c1" -> "(fp_hi >> 10) & 2047",
    "c2" -> "fp_hi & 1023",
    "c3" -> "(fp_lo >> 21) & 2047", "c4" -> "(fp_lo >> 10) & 2047",
    "c5" -> "fp_lo & 1023")

  /** all C(6,3) = 20 chunk triples, fixed order; each packs into one
    * ≤ 33-bit block key (11-bit shifts)
    */
  private val SimhashCombos: Seq[Seq[Int]] =
    (0 until 6).combinations(3).map(_.toSeq).toSeq

  private def comboKey(c: Seq[Int]): String =
    s"((c${c(0)} << 22) | (c${c(1)} << 11) | c${c(2)})"

  /** SimHash near-dup pairs via COMBINATION blocking (the scheme of Manku,
    * Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling",
    * WWW'07): the 64-bit fingerprint splits into 6 chunks, and each of the
    * C(6,3)=20 3-chunk combinations is one ~32-bit block key. Any pair at
    * Hamming ≤ 3 leaves 3 chunks untouched, so it shares at least one key
    * (guaranteed detection). Above 3 detection is PROBABILISTIC and weak —
    * measured recall 0.11 over the 4 ≤ h ≤ 8 band on the test corpus
    * (SimhashRecallSpec) — because 4+ flips usually touch every 3-chunk
    * combo; the scheme is built for small radii. Candidates that do
    * collide are still ranked by full 64-bit Hamming ≤ maxHamming.
    *
    * Scale note: this replaces both earlier schemes deliberately — a single
    * `fp >> 16` key concentrates near-dup clusters into few quadratic
    * blocks, and fixed 16-bit bands keep blocks at n/2^16, which grows
    * linearly with the corpus. A ~32-bit combination key keeps uniform
    * block occupancy ≈ n/2^32 — one expected collision per block well into
    * billions of documents — while the 20-row melt stays linear.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    // no persist: the row-local fingerprint is one linear scan (md5 per
    // word, in-row folds), so the self-join's two recomputations are
    // cheaper than the cache pressure a pin buys at bench/prod heap sizes.
    // At 100 TB the fingerprint table is a materialized artifact anyway
    // (like bandIndex), refreshed with the corpus, not rebuilt per query.
    val fp = simhash(docs)
    val chunkExprs = SimhashChunks.map { case (n, e) => s"$e AS $n" }
    val chunked = fp.selectExpr(
      Seq("doc_id", "fp_hi", "fp_lo") ++ chunkExprs: _*)
    val stackArgs = SimhashCombos.zipWithIndex
      .map { case (c, i) => s"$i, ${comboKey(c)}" }.mkString(", ")
    val melted = chunked.selectExpr("doc_id", "fp_hi", "fp_lo",
      s"stack(${SimhashCombos.length}, $stackArgs) as (band_idx, bv)")
    val out = melted.as("x").join(melted.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.bv") === col("y.bv") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        (bit_count(col("x.fp_hi").bitwiseXOR(col("y.fp_hi"))) +
         bit_count(col("x.fp_lo").bitwiseXOR(col("y.fp_lo")))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
    out
  }

  def simhashPairsSql(maxHamming: Int): String = {
    val chunkDefs = SimhashChunks.map { case (n, e) => s"$e AS $n" }
      .mkString(", ")
    val melted = SimhashCombos.zipWithIndex.map { case (c, i) =>
      s"SELECT doc_id, fp_hi, fp_lo, $i AS band_idx, ${comboKey(c)} AS bv FROM chunked" }
      .mkString(" UNION ALL ")
    s"""WITH $simhashSql,
       |chunked AS (SELECT doc_id, fp_hi, fp_lo, $chunkDefs FROM simhash),
       |melted AS ($melted)
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |       bit_count(xor(x.fp_hi, y.fp_hi)) + bit_count(xor(x.fp_lo, y.fp_lo)) AS hamming
       |FROM melted x JOIN melted y
       |ON x.band_idx = y.band_idx AND x.bv = y.bv AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.fp_hi, y.fp_hi)) + bit_count(xor(x.fp_lo, y.fp_lo)) <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -------------------------------------------------------- ngram jaccard

  /** Exact word-bigram Jaccard over content-sketch-blocked pairs: the same
    * banded-minhash candidate scheme as [[minhashPairs]] (3 bands × 4
    * channel-rows, see [[bandedCandidates]]) applied to bigram shingles,
    * then exact set Jaccard verifies survivors.
    *
    * Scale note: the block key is a function of CONTENT SKETCH, not
    * position — a text-prefix key (previous scheme) collapses every
    * boilerplate-prefixed web page into one quadratic block; and a SINGLE
    * channel minimum is skew-prone too (one corpus-common shingle with a
    * low hash becomes the min for a large doc fraction — measured 6% of
    * docs in one block on the test corpus). Bands of 4 minima make a
    * collision require four simultaneous matches: P = J⁴ per band, which
    * vanishes for unrelated docs (J<0.12 here) and stays high for true
    * near-dups (J≥0.9 here → ≥96% recall over 3 bands).
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val (pairs, mel) = bandedCandidates(signatureRowLocal(docs, 2))
    val (out, shp) = verifyJaccard(pairs, docs, 2, threshold)
    Persist.handoff(out, pairs, mel, shp)
  }

  /** raw (doc_id, shingle) occurrences of word bigrams (see [[shingles3]]
    * for why these are not deduplicated corpus-wide).
    */
  def shingles2(docs: DataFrame): DataFrame =
    withWords(docs)
      .where(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1]))"))
          .as("shingle"))

  val shingles2Sql: String =
    """ws AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, s AS shingle
      |       FROM ws, unnest([w[i] || ' ' || w[i+1]
      |                        for i in range(1, len(w))]) AS t(s)
      |       WHERE len(w) >= 2)""".stripMargin

  def ngramJaccardPairsSql(threshold: Double): String =
    s"""WITH ${shingles2Sql},
       |${bandedVerifySql(threshold)}""".stripMargin

  // ------------------------------------------------------ canonicalization

  /** Cluster near-dup pairs into components and assign each member its
    * canonical (minimum) doc_id — the step that turns pair lists into a
    * keep/drop decision. Iterative min-label propagation: converges to the
    * component minimum, a unique fixpoint independent of iteration order
    * (so results are deterministic and engine-comparable). Iterations are
    * logarithmic in component diameter; near-dup components are tiny, and
    * at corpus scale this is the standard alternating-star CC shape with
    * the same join primitive.
    */
  def canonicalize(pairs: DataFrame): DataFrame = {
    // localCheckpoint (eager) on both loop inputs: it truncates lineage so
    // iteration k's plan is (cached edges ⋈ cached labels), CONSTANT size.
    // Without it the `updated` plan embeds the previous labels plan twice
    // plus the full upstream pair-generation DAG — geometric plan growth
    // that turns Catalyst analysis itself into the bottleneck long before
    // execution does. (At cluster scale with lineage-based recovery
    // concerns, substitute reliable checkpoint(); same shape.)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    // initialize with the first sweep folded in: min of self and direct
    // neighbors (saves one full join+count round trip)
    var labels = edges.groupBy(col("src").as("doc_id"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < 32) {
      // edge relaxation: one-hop neighbor minimum
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "nid"), col("dst") === col("nid"))
        .groupBy(col("src")).agg(min("label").as("nlabel"))
      val relaxed = labels
        .join(neighborMin, col("doc_id") === col("src"), "left")
        .select(col("doc_id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // pointer jumping: follow the label's own label (path halving) —
      // together with the relax step this converges in O(log diameter)
      // rounds instead of O(diameter), i.e. O(log) shuffle rounds on a
      // 100 TB pair set; the fixpoint (component minimum) is unchanged.
      // The `changed` flag is baked into the checkpointed frame so the
      // convergence check is a cached scan + count — no join with the
      // previous labels, one fewer shuffle per round.
      val updated = relaxed
        .join(relaxed.select(col("doc_id").as("pid"), col("label").as("plabel")),
          col("label") === col("pid"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("plabel"), col("label"))).as("label"),
          (least(col("label"), coalesce(col("plabel"), col("label")))
            =!= col("prev")).as("changed"))
        .localCheckpoint(true)
      val changes = updated.where(col("changed")).count()
      labels = updated.drop("changed")
      converged = changes == 0
      iter += 1
    }
    labels.select(col("doc_id"), col("label").as("canonical_id"))
  }

  /** DuckDB mirror: transitive closure via recursive CTE, then min per
    * node — same unique fixpoint.
    */
  def canonicalizeSql(pairsSql: String): String =
    s"""WITH RECURSIVE
       |mhp AS (SELECT * FROM ($pairsSql)),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mhp
       |          UNION SELECT doc_b, doc_a FROM mhp),
       |nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
       |reach(doc_id, node) AS (
       |  SELECT doc_id, doc_id FROM nodes
       |  UNION
       |  SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON e.src = r.node)
       |SELECT doc_id, MIN(node) AS canonical_id FROM reach
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Duplicate-cluster size histogram — the corpus-health readout over
    * [[canonicalize]]'s components: how many clusters exist at each
    * size (size 2 = simple pairs, a heavy tail = boilerplate families).
    * Two partial-aggregated shuffles over rows that are already one per
    * document, then one per cluster.
    */
  def clusterStats(canonical: DataFrame): DataFrame =
    canonical.groupBy("canonical_id")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))

  /** DuckDB mirror of [[clusterStats]] over [[canonicalizeSql]]. */
  def clusterStatsSql(pairsSql: String): String =
    s"""SELECT cluster_size, COUNT(*) AS n_clusters FROM (
       |  SELECT canonical_id, COUNT(*) AS cluster_size FROM (
       |${canonicalizeSql(pairsSql)}
       |  ) GROUP BY 1)
       |GROUP BY 1 ORDER BY cluster_size""".stripMargin

  // ---------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-dup: pairs within the same LSH bucket (see
    * [[VectorOps.lshBucket]]) with cosine ≥ threshold.
    */
  def embedNearDup(emb: DataFrame, bits: Int, dim: Int,
                   threshold: Double): DataFrame = {
    // bucket and norm are per-ROW (narrow, computed once per vector);
    // only the dot product is per-pair — at n² pair scale that's the
    // difference between 1 and 3 full-vector folds per candidate
    val b = emb.select(col("vec_id"), col("embedding"),
      VectorOps.lshBucket(col("embedding"), bits, dim).as("bkt"),
      VectorOps.norm(col("embedding")).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = b.as("x").join(b.as("y"),
        col("x.bkt") === col("y.bkt") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        VectorOps.cosineOf(
          VectorOps.dot(col("x.embedding"), col("y.embedding")),
          col("x.nrm"), col("y.nrm")).as("cos"))
      .where(col("cos") >= threshold)
    Persist.handoff(out, b)
  }

  def embedNearDupSql(bits: Int, dim: Int, threshold: Double): String =
    s"""WITH b AS (SELECT vec_id, embedding,
       |           ${VectorOps.lshBucketSql("embedding", bits, dim)} AS bkt
       |           FROM embeddings)
       |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       |       ${VectorOps.cosineSql("x.embedding", "y.embedding", dim)} AS cos
       |FROM b x JOIN b y ON x.bkt = y.bkt AND x.vec_id < y.vec_id
       |WHERE ${VectorOps.cosineSql("x.embedding", "y.embedding", dim)} >= $threshold
       |ORDER BY vec_a, vec_b""".stripMargin

  // -------------------------------------------------------------- by URL

  /** URL-level dedup — the cheap first pass a web-corpus pipeline runs
    * BEFORE any content hashing (multiple crawls of one URL are trivially
    * the same page): among documents sharing a `source` URL keep the
    * longest capture, ties to the smallest doc_id.
    *
    * Scale shape: a window group-limit — one shuffle on `source`,
    * rank-pushed-down by Spark's WindowGroupLimit so each partition keeps
    * one row before the exchange; no self-join, nothing quadratic. URL
    * cardinality ~ corpus cardinality, so partitions stay balanced at
    * any scale.
    */
  def urlKeepBest(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    docs.withColumn("rnk", row_number().over(w))
      .where(col("rnk") === 1)
      .select(col("source"), col("doc_id"), col("n_chars"))
  }

  val urlKeepBestSql: String =
    """SELECT source, doc_id, n_chars
      |FROM (SELECT source, doc_id, n_chars,
      |        row_number() OVER (PARTITION BY source
      |                           ORDER BY n_chars DESC, doc_id ASC) AS rnk
      |      FROM documents)
      |WHERE rnk = 1 ORDER BY source""".stripMargin

  // ------------------------------------------------------------ segments

  /** Segment-level exact dedup (the CCNet/RefinedWeb line-dedup stage,
    * re-expressed over fixed `segLen`-word segments — the corpus carries
    * no newline structure): a segment appearing in ≥ 2 DISTINCT documents
    * is boilerplate; emit per-doc segment counts and the cleaned text
    * with boilerplate segments dropped (in original order).
    *
    * Scale shape: explode to ~|words|/segLen segment rows, ONE shuffle on
    * the segment for the distinct-doc count (map-side combinable), a
    * broadcast-or-shuffle equi-join back, and a per-doc regroup. Nothing
    * is quadratic and no driver state: the same three-stage shape CCNet
    * runs over shards. The regroup's collect_list is bounded by document
    * size — the same per-row bound the corpus already obeys.
    */
  def segmentDedup(docs: DataFrame, segLen: Int): DataFrame = {
    val segs = withWords(docs).select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(w)/$segLen.0) as int)-1), " +
          s"i -> concat_ws(' ', slice(w, i*$segLen+1, $segLen)))"))
        .as(Seq("idx", "seg")))
    val counts = segs.groupBy("seg")
      .agg(count_distinct(col("doc_id")).as("nd"))
    segs.join(counts, Seq("seg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        count(when(col("nd") >= 2, 1)).as("n_dup_segments"),
        array_join(transform(array_sort(collect_list(
          when(col("nd") < 2, struct(col("idx"), col("seg"))))),
          x => x.getField("seg")), " ").as("clean_text"))
  }

  // ── exact substring-SPAN dedup (the Lee et al. 2022 method) ─────────

  /** the n-token window hashes of the row's word array `w`, in start
    * order — shared by the batch occurrence table and the streaming
    * scrub (empty when the document is shorter than one window; without
    * the guard `sequence(0, negative)` would count DOWN)
    */
  private[graft] def gramHashes(n: Int): Column =
    when(size(col("w")) >= n,
      expr(s"transform(sequence(0, size(w) - $n), " +
        s"i -> md5(array_join(slice(w, i + 1, $n), ' ')))"))
      .otherwise(array().cast("array<string>"))

  /** RAW per-document n-token WINDOW hashes with their start positions —
    * the working table of exact substring-span dedup (Lee, Ippolito et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"). The published method builds a corpus suffix array; the
    * distributed equivalent is hash-windowing: any repeated span of
    * ≥ n tokens necessarily contains a repeated n-token window, so the
    * windows are a complete candidate generator for spans at that
    * granularity. Row-local over the word array (no window functions,
    * no self-join): one explode of (len − n + 1) rows per document.
    */
  private[graft] def gramOccurrences(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    withWords(docs)
      .where(size(col("w")) >= n)
      .select(col("doc_id"), posexplode(gramHashes(n)).as(Seq("pos", "gh")))
  }

  /** Window hashes occurring more than once CORPUS-WIDE (self-repeats
    * included — a document repeating its own phrase is duplication too).
    * This is the operator's only corpus-scale shuffle: an exact count by
    * hash with map-side partial aggregation; the result — the artifact a
    * production pipeline materializes — is a vanishing fraction of the
    * occurrence table.
    */
  def dupGrams(docs: DataFrame, n: Int): DataFrame =
    dupGramsOf(gramCounts(docs, n))

  /** The MAINTAINABLE form of the dup-gram artifact: per-hash occurrence
    * counts — [[dupGrams]] is its `c > 1` projection ([[dupGramsOf]]).
    * A production pipeline materializes THIS table when the corpus grows
    * incrementally: counts merge under append ([[gramCountsAppend]]),
    * the duplicated-hash set does not (a hash unique in both the base
    * and the delta may be duplicated in their union).
    */
  def gramCounts(docs: DataFrame, n: Int): DataFrame =
    gramOccurrences(docs, n).groupBy("gh").agg(count(lit(1)).as("c"))

  /** the duplicated-hash set read off a counts artifact */
  def dupGramsOf(counts: DataFrame): DataFrame =
    counts.where(col("c") > 1).select("gh")

  /** Incremental artifact refresh (the IVF/sq8 index-append precedent):
    * fold a NEW-DOCS delta's gram counts into the sanctioned counts
    * artifact with ONE keyed full-outer merge on the hash — the delta
    * pays its own scan + map-side-combined count, the base artifact is
    * read once, and the corpus is never rebuilt. Assumes delta doc ids
    * are new (append, not upsert — the reference-free analog of the ANN
    * family's same assumption).
    */
  def gramCountsAppend(base: DataFrame, delta: DataFrame,
                       n: Int): DataFrame =
    base.select(col("gh"), col("c").as("c_base"))
      .join(gramCounts(delta, n).select(col("gh"), col("c").as("c_delta")),
        Seq("gh"), "full_outer")
      .select(col("gh"),
        (coalesce(col("c_base"), lit(0L)) +
          coalesce(col("c_delta"), lit(0L))).as("c"))

  /** Duplicated window-start positions per document — the probe side:
    * occurrences equi-joined against [[dupGrams]] on the hash. Shared by
    * the batch span assembly and the streaming twin so the hit
    * definition cannot drift.
    */
  private[graft] def spanHits(occ: DataFrame, dup: DataFrame): DataFrame =
    occ.join(dup, Seq("gh")).select(col("doc_id"), col("pos"))

  /** Exact substring-span dedup summary: per document, MAXIMAL duplicated
    * spans — duplicated window starts within n tokens of each other merge
    * (their token ranges overlap or touch), each span covering tokens
    * [min start, max start + n − 1]. Output (doc_id, n_spans,
    * dup_tokens) for documents carrying at least one duplicated span —
    * the mask a pipeline uses to cut repeated boilerplate out of
    * otherwise-unique documents (whole-doc hashing cannot see it,
    * MinHash only scores global similarity).
    *
    * Scale shape: two corpus scans (occurrences are cheaper to recompute
    * than to pin — the table is larger than the corpus; what production
    * materializes is the small [[dupGrams]] artifact), the hash-count
    * shuffle, one equi-join, and ONE doc-keyed window pass for the
    * island merge. Never a suffix array in memory, never all-pairs.
    */
  def substringSpans(docs: DataFrame, n: Int): DataFrame =
    spanSummary(spanTable(docs, n))

  /** [[substringSpans]] against an EXTERNALLY MAINTAINED duplicated-hash
    * artifact (e.g. [[gramCountsAppend]] → [[dupGramsOf]]) instead of a
    * same-pass corpus count — the batch twin of the streaming scrub's
    * artifact-parameterized probe.
    */
  def substringSpansWith(docs: DataFrame, dup: DataFrame,
                         n: Int): DataFrame =
    spanSummary(islands(spanHits(gramOccurrences(docs, n), dup), n))

  private def spanSummary(spans: DataFrame): DataFrame =
    spans
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"))

  /** Maximal duplicated spans (doc_id, sid, s, e) — the island merge over
    * the hit positions, shared by the summary and the scrub. Spans of one
    * document never overlap (separate islands are > n apart by
    * construction).
    */
  private def spanTable(docs: DataFrame, n: Int): DataFrame =
    islands(spanHits(gramOccurrences(docs, n), dupGrams(docs, n)), n)

  /** The island merge over a (doc_id, pos) hit set: starts within n of
    * each other merge, spans cover [min start, max start + n − 1]. One
    * doc-keyed window pass — shared by the keep-zero and keep-first span
    * tables so the merge semantics cannot drift.
    */
  private def islands(hits: DataFrame, n: Int): DataFrame = {
    val win = Window.partitionBy("doc_id").orderBy("pos")
    val prev = lag(col("pos"), 1).over(win)
    hits
      .withColumn("ns",
        when(prev.isNull || col("pos") - prev > n, 1).otherwise(0))
      .withColumn("sid", sum(col("ns")).over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("sid"))
      .agg(min(col("pos")).as("s"),
        (max(col("pos")) + lit(n - 1)).as("e"))
  }

  /** The scrub — the Lee et al. pipeline's OUTPUT step: tokens covered by
    * any duplicated span are dropped, the rest rejoin in original order.
    * Every document passes through (no-span docs with n_dropped 0), so
    * this composes as a corpus rewrite stage.
    *
    * SEMANTIC NOTE — keep-ZERO-copies: a corpus-wide count > 1 marks ALL
    * occurrences of a duplicated span, so a phrase appearing twice
    * anywhere vanishes from the corpus entirely. This deviates from Lee
    * et al. 2022, which keeps one canonical occurrence; it is the
    * aggressive boilerplate-removal posture (repeated content is noise,
    * drop it everywhere). Pipelines that want the paper's semantics use
    * [[substringScrubKeepFirst]], which exempts the corpus-first
    * occurrence of each duplicated window.
    *
    * Output: (doc_id, n_tokens, n_dropped, clean_text).
    *
    * Plan: the span table regrouped to a per-doc span LIST (bounded by
    * document length), one equi-join back to the corpus, and a row-local
    * indexed array filter — no explode of the corpus tokens, no second
    * window pass.
    */
  def substringScrub(docs: DataFrame, n: Int): DataFrame =
    scrubBySpans(docs, spanTable(docs, n))

  /** the order-preserving packed occurrence key (see
    * [[substringScrubKeepFirst]]'s scale note): `doc_id·2³² + pos` in
    * DECIMAL(38,0) — monotone in (doc_id, pos), fixed-width so min stays
    * in HashAggregate
    */
  private[graft] def packedOccKey: Column =
    col("doc_id").cast(DecimalType(38, 0)) * lit(4294967296L) + col("pos")

  /** The KEEP-FIRST maintainable artifact: duplicated hashes with their
    * packed canonical-occurrence key (gh, c0) — what a production
    * pipeline materializes so the keep-one exemption works from the
    * artifact alone (the streaming scrub's probe needs it: canonicality
    * is corpus-global, invisible to a single arriving document).
    */
  def dupGramsWithCanon(docs: DataFrame, n: Int): DataFrame =
    dupGramsWithCanonOf(gramCountsCanon(docs, n))

  /** the duplicated set + canonical keys read off a canon-counts
    * artifact
    */
  def dupGramsWithCanonOf(counts: DataFrame): DataFrame =
    counts.where(col("c") > 1).select(col("gh"), col("c0"))

  /** [[gramCounts]] carrying the packed canonical key — the MERGEABLE
    * form for keep-first maintenance. It must stay UNFILTERED: a hash
    * unique in the base and unique in the delta may be duplicated in
    * their union, and its canonical key then needs the base occurrence
    * the `c > 1` projection would have dropped.
    */
  def gramCountsCanon(docs: DataFrame, n: Int): DataFrame =
    gramOccurrences(docs, n)
      .groupBy("gh")
      .agg(count(lit(1)).as("c"), min(packedOccKey).as("c0"))

  /** [[gramCountsAppend]] for the canon-counts artifact: counts add,
    * canonical keys take the min — both algebraic, one keyed full-outer
    * merge, corpus never rebuilt. Assumes delta doc ids are new.
    */
  def gramCountsCanonAppend(base: DataFrame, delta: DataFrame,
                            n: Int): DataFrame =
    base.select(col("gh"), col("c").as("c_b"), col("c0").as("c0_b"))
      .join(gramCountsCanon(delta, n)
        .select(col("gh"), col("c").as("c_d"), col("c0").as("c0_d")),
        Seq("gh"), "full_outer")
      .select(col("gh"),
        (coalesce(col("c_b"), lit(0L)) +
          coalesce(col("c_d"), lit(0L))).as("c"),
        least(col("c0_b"), col("c0_d")).as("c0"))

  /** [[substringScrub]] with Lee et al. 2022's keep-one semantics: for
    * each duplicated window hash, the corpus-FIRST occurrence (min
    * (doc_id, pos) — a deterministic canonical choice) is exempted from
    * the hit set before the island merge, so one copy of every repeated
    * phrase survives the rewrite and only the other copies are cut.
    *
    * Scale shape: identical to the keep-zero path — the canonical
    * occurrence rides the dup-hash aggregation itself as a `min` over an
    * order-preserving packed key (map-side combinable, so a boilerplate
    * phrase repeated 10⁵ times corpus-wide collapses to one partial per
    * input partition before the shuffle), and the exemption is a
    * row-local inequality on the joined hit — no window over the gram
    * hash, no single-task sort under a hot gram, no second join, no
    * extra corpus scan.
    *
    * The key packs (doc_id, pos) as `doc_id·2³² + pos` in DECIMAL(38,0):
    * `min(struct(…))` would demote the aggregation to SortAggregate
    * (struct is not a mutable agg-buffer type), locally sorting the
    * whole occurrence table; a fixed-width decimal keeps it in
    * HashAggregate. Monotone in (doc_id, pos) — pos ∈ [0, 2³¹) — so the
    * decimal min IS the `ORDER BY doc_id, pos` first occurrence, for
    * negative doc_id too.
    */
  def substringScrubKeepFirst(docs: DataFrame, n: Int): DataFrame =
    substringScrubKeepFirstWith(docs, dupGramsWithCanon(docs, n), n)

  /** the keep-first scrub against an EXTERNALLY MAINTAINED canon
    * artifact (e.g. [[gramCountsCanonAppend]] → [[dupGramsWithCanonOf]])
    * — the batch twin of the streaming keep-first probe
    */
  def substringScrubKeepFirstWith(docs: DataFrame, dupCanon: DataFrame,
                                  n: Int): DataFrame = {
    val nonCanonical = gramOccurrences(docs, n)
      .join(dupCanon, Seq("gh"))
      .where(packedOccKey =!= col("c0"))
      .select(col("doc_id"), col("pos"))
    scrubBySpans(docs, islands(nonCanonical, n))
  }

  /** the shared rewrite step: per-doc span list, one equi-join, row-local
    * indexed array filter
    */
  private def scrubBySpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val perDoc = spans
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    withWords(docs).join(perDoc, Seq("doc_id"), "left")
      .withColumn("sp",
        coalesce(col("spans"), array().cast("array<struct<s:int,e:int>>")))
      .withColumn("kept", filter(col("w"), (x, i) =>
        !exists(col("sp"), p =>
          p.getField("s") <= i && i <= p.getField("e"))))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_dropped"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** shared CTE ladder: occurrences `g`, duplicated hashes `d`, hits `h` */
  private def spanLadderSql(n: Int): String =
    s"""ws AS (SELECT doc_id, string_split(trim(text), ' ') AS w
       |            FROM documents),
       |g AS (SELECT doc_id, CAST(t.i AS INTEGER) AS pos,
       |        md5(array_to_string(
       |          w[CAST(t.i + 1 AS INTEGER):CAST(t.i + $n AS INTEGER)],
       |          ' ')) AS gh
       |      FROM ws,
       |           unnest(range(0, GREATEST(len(w) - $n + 1, 0))) AS t(i)),
       |d AS (SELECT gh FROM g GROUP BY 1 HAVING COUNT(*) > 1),
       |h AS (SELECT g.doc_id, g.pos, g.gh FROM g JOIN d USING (gh))""".stripMargin

  /** island-merge CTEs (`i1`, `i2`, `sp`) over the hits CTE named `hits` */
  private def islandSql(n: Int, hits: String): String =
    s"""i1 AS (SELECT doc_id, pos,
       |         CASE WHEN lag(pos) OVER w IS NULL
       |                OR pos - lag(pos) OVER w > $n THEN 1 ELSE 0 END
       |           AS ns
       |       FROM $hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |i2 AS (SELECT doc_id, pos, SUM(ns) OVER
       |         (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
       |           AS sid
       |       FROM i1),
       |sp AS (SELECT doc_id, sid, MIN(pos) AS s, MAX(pos) + $n - 1 AS e
       |       FROM i2 GROUP BY 1, 2)""".stripMargin

  private def spanTableSql(n: Int): String =
    s"""${spanLadderSql(n)},
       |${islandSql(n, "h")}""".stripMargin

  /** keep-first span table: hits narrowed to NON-canonical occurrences —
    * the corpus-first (min (doc_id, pos)) occurrence of each duplicated
    * hash is exempt before the island merge
    */
  private def spanTableKeepFirstSql(n: Int): String =
    s"""${spanLadderSql(n)},
       |hr AS (SELECT doc_id, pos, row_number() OVER
       |         (PARTITION BY gh ORDER BY doc_id, pos) AS rn
       |       FROM h),
       |h2 AS (SELECT doc_id, pos FROM hr WHERE rn > 1),
       |${islandSql(n, "h2")}""".stripMargin

  /** DuckDB mirror of [[substringSpans]]. */
  def substringSpansSql(n: Int): String =
    s"""WITH ${spanTableSql(n)}
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |       CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
       |FROM sp GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** the shared rewrite tail over a span table `sp` */
  private def scrubTailSql: String =
    s"""wp AS (SELECT doc_id, CAST(t.i AS INTEGER) AS pos,
       |         w[CAST(t.i + 1 AS INTEGER)] AS tok
       |       FROM ws, unnest(range(0, len(w))) AS t(i)),
       |kept AS (SELECT wp.doc_id, wp.pos, wp.tok FROM wp
       |         WHERE NOT EXISTS (SELECT 1 FROM sp
       |           WHERE sp.doc_id = wp.doc_id
       |             AND wp.pos BETWEEN sp.s AND sp.e))
       |SELECT ws.doc_id, CAST(len(ws.w) AS BIGINT) AS n_tokens,
       |       CAST(len(ws.w) - COUNT(k.tok) AS BIGINT) AS n_dropped,
       |       COALESCE(string_agg(k.tok, ' ' ORDER BY k.pos), '')
       |         AS clean_text
       |FROM ws LEFT JOIN kept k USING (doc_id)
       |GROUP BY ws.doc_id, len(ws.w) ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of [[substringScrub]]. */
  def substringScrubSql(n: Int): String =
    s"""WITH ${spanTableSql(n)},
       |$scrubTailSql""".stripMargin

  /** DuckDB mirror of [[substringScrubKeepFirst]]. */
  def substringScrubKeepFirstSql(n: Int): String =
    s"""WITH ${spanTableKeepFirstSql(n)},
       |$scrubTailSql""".stripMargin

  /** DuckDB mirror of the streaming twin's hit stream (the `h` CTE). */
  def spanHitsSql(n: Int): String =
    s"""WITH ${spanLadderSql(n)}
       |SELECT doc_id, CAST(pos AS BIGINT) AS pos FROM h
       |ORDER BY doc_id, pos""".stripMargin

  def segmentDedupSql(segLen: Int): String =
    s"""WITH ws AS (SELECT doc_id, string_split(trim(text), ' ') AS w
       |            FROM documents),
       |segs AS (SELECT doc_id,
       |           unnest(range(0, CAST(ceil(len(w)/$segLen.0) AS BIGINT))) AS idx,
       |           unnest([array_to_string(w[(i*$segLen+1):(i*$segLen+$segLen)], ' ')
       |                   for i in range(0, CAST(ceil(len(w)/$segLen.0) AS BIGINT))]) AS seg
       |         FROM ws),
       |cnt AS (SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM segs GROUP BY 1)
       |SELECT s.doc_id, COUNT(*) AS n_segments,
       |       COUNT(CASE WHEN c.nd >= 2 THEN 1 END) AS n_dup_segments,
       |       COALESCE(string_agg(CASE WHEN c.nd < 2 THEN s.seg END, ' '
       |                           ORDER BY s.idx), '') AS clean_text
       |FROM segs s JOIN cnt c USING (seg)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin
}
