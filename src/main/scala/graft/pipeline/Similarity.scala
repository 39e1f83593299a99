package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns (builder
  * brief): brute-force cosine top-k as the exactness baseline, and an
  * LSH-bucketed variant as the scale path (candidates restricted to the
  * query's hyperplane-sign bucket — the 100 TB posture: the bucket key is
  * a shuffle/partition key, turning all-pairs into per-bucket pairs).
  *
  * Ranking determinism: cosines come from [[VectorOps]]' fixed-point dot
  * products (bit-identical across engines), ties break on vec_id.
  */
object Similarity {

  /** Brute-force top-k: queries × corpus, rank by cosine desc. The query
    * set is broadcast — the corpus is never shuffled.
    */
  def bruteTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val t = emb.select(col("vec_id"), col("embedding"),
      VectorOps.norm(col("embedding")).as("nrm"))
    val q = queries.select(col("vec_id"), col("embedding"),
      VectorOps.norm(col("embedding")).as("nrm"))
    val scored = t.as("t").join(broadcast(q.as("q")),
        col("q.vec_id") =!= col("t.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("t.vec_id").as("vec_id"),
        VectorOps.cosineOf(VectorOps.dot(col("q.embedding"), col("t.embedding")),
          col("q.nrm"), col("t.nrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  def bruteTopKSql(dim: Int, k: Int, querySel: String): String =
    s"""WITH q AS ($querySel),
       |scored AS (
       |  SELECT q.vec_id AS query_id, t.vec_id AS vec_id,
       |         ${VectorOps.cosineSql("q.embedding", "t.embedding", dim)} AS cos
       |  FROM embeddings t JOIN q ON q.vec_id <> t.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Radius (range) search: every corpus vector with cosine ≥ `minCos`
    * of each query — FAISS's `range_search` beside the top-k kernels
    * (duplicate sweeps and "everything this similar" audits want the
    * full ball, not a fixed k). Same broadcast-queries / corpus-never-
    * shuffled shape as [[bruteTopK]], but selection is a threshold
    * filter, not a window rank — no per-query exchange at all: the
    * filter runs map-side on the scan and only matches move. Zero-norm
    * corpus vectors cosine to NaN, which both engines order above any
    * threshold (Spark and DuckDB agree NaN > x) — the consumer sees
    * them flagged rather than silently dropped, matching the top-k
    * kernels' NaN-largest ranking.
    */
  def rangeSearch(emb: DataFrame, queries: DataFrame,
                  minCos: Double): DataFrame = {
    val t = emb.select(col("vec_id"), col("embedding"),
      VectorOps.norm(col("embedding")).as("nrm"))
    val q = queries.select(col("vec_id"), col("embedding"),
      VectorOps.norm(col("embedding")).as("nrm"))
    t.as("t").join(broadcast(q.as("q")),
        col("q.vec_id") =!= col("t.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("t.vec_id").as("vec_id"),
        VectorOps.cosineOf(
          VectorOps.dot(col("q.embedding"), col("t.embedding")),
          col("q.nrm"), col("t.nrm")).as("cos"))
      .where(col("cos") >= minCos)
  }

  def rangeSearchSql(dim: Int, minCos: Double, querySel: String): String =
    s"""WITH q AS ($querySel)
       |SELECT q.vec_id AS query_id, t.vec_id AS vec_id,
       |       ${VectorOps.cosineSql("q.embedding", "t.embedding", dim)} AS cos
       |FROM embeddings t JOIN q ON q.vec_id <> t.vec_id
       |WHERE ${VectorOps.cosineSql("q.embedding", "t.embedding", dim)} >= $minCos
       |ORDER BY query_id, vec_id""".stripMargin

  /** the (vec_id, embedding, bkt, nrm) hyperplane-sign bucketing both
    * sides of the LSH join share — row-local, so a memoized artifact of
    * this shape over the corpus is the whole "band index"
    */
  def lshPrep(df: DataFrame, bits: Int, dim: Int): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      VectorOps.lshBucket(col("embedding"), bits, dim).as("bkt"),
      VectorOps.norm(col("embedding")).as("nrm"))

  /** LSH-bucketed radius search — [[rangeSearch]]'s scale path: only
    * the query's hyperplane-sign bucket is scored, so corpus work per
    * query is the bucket population, not the corpus (the recall trade
    * every LSH search makes). Same equi-join-on-bucket shape as
    * [[lshTopK]], but selection is the threshold filter — no window, no
    * per-query exchange.
    */
  def rangeSearchLsh(emb: DataFrame, queries: DataFrame, bits: Int,
                     dim: Int, minCos: Double): DataFrame =
    rangeSearchLshOn(lshPrep(emb, bits, dim),
      lshPrep(queries, bits, dim), minCos)

  /** [[rangeSearchLsh]]'s search half against an ALREADY-BUCKETED corpus
    * (a [[lshPrep]] artifact): the DQL registry dispatches here against
    * its memoized band index, so each probe pays only the bucket
    * population and never a corpus re-hash.
    */
  def rangeSearchLshOn(bucketed: DataFrame, queriesPrepped: DataFrame,
                       minCos: Double): DataFrame =
    bucketed.as("t").join(broadcast(queriesPrepped.as("q")),
        col("q.bkt") === col("t.bkt") && col("q.vec_id") =!= col("t.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("t.vec_id").as("vec_id"),
        VectorOps.cosineOf(
          VectorOps.dot(col("q.embedding"), col("t.embedding")),
          col("q.nrm"), col("t.nrm")).as("cos"))
      .where(col("cos") >= minCos)

  def rangeSearchLshSql(bits: Int, dim: Int, minCos: Double,
                        querySel: String): String =
    s"""WITH b AS (SELECT vec_id, embedding,
       |           ${VectorOps.lshBucketSql("embedding", bits, dim)} AS bkt
       |           FROM embeddings),
       |q AS (SELECT * FROM b WHERE vec_id IN ($querySel))
       |SELECT q.vec_id AS query_id, t.vec_id AS vec_id,
       |       ${VectorOps.cosineSql("q.embedding", "t.embedding", dim)} AS cos
       |FROM b t JOIN q ON q.bkt = t.bkt AND q.vec_id <> t.vec_id
       |WHERE ${VectorOps.cosineSql("q.embedding", "t.embedding", dim)} >= $minCos
       |ORDER BY query_id, vec_id""".stripMargin

  /** Per-dimension corpus moments (mean / population std) — the
    * feature-scaling statistics a normalization or whitening pre-pass
    * needs before quantization. One posexplode + ONE partial-aggregated
    * shuffle keyed on the dimension index: the map-side combine reduces
    * every partition to `dim` moment rows before the exchange, so the
    * shuffle volume is dim × partitions regardless of corpus size.
    * Moments go through [[graft.core.Exact]] so both engines derive the
    * same doubles.
    */
  def dimStats(emb: DataFrame): DataFrame = {
    // raw floats must be rounded to 9 decimals BEFORE the decimal sum:
    // a full-precision double→decimal(28,10) cast rounds the shortest-
    // decimal repr on the Spark side but the binary value on DuckDB's,
    // and with 10k+ terms the one-ulp disagreements surface (measured:
    // dim 32 off in the 12th digit). A 9dp-rounded double is exactly
    // the same decimal in both engines — the unigramLogProb convention.
    val xd = col("xf").cast("double")
    val g = emb.select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .withColumn("x", round(xd, 9))
      .withColumn("x2", round(xd * xd, 9))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.dsum(col("x")).as("sx"),
        graft.core.Exact.dsum(col("x2")).as("sx2"))
    val nD = col("n").cast("double")
    val m1 = col("sx") / nD
    g.select(col("dim"), col("n"), m1.as("mean"),
        // m1*m1, not pow: plain IEEE multiply needs no pow-parity bet
        sqrt(greatest(col("sx2") / nD - m1 * m1, lit(0.0))).as("std"))
      .orderBy("dim")
  }

  def dimStatsSql(dim: Int): String =
    s"""WITH t AS (SELECT i - 1 AS dim,
       |             ROUND(CAST(embedding[i] AS DOUBLE), 9) AS x,
       |             ROUND(CAST(embedding[i] AS DOUBLE)
       |                   * CAST(embedding[i] AS DOUBLE), 9) AS x2
       |           FROM embeddings, range(1, ${dim + 1}) r(i)),
       |g AS (SELECT dim, COUNT(*) AS n, ${graft.core.Exact.dsumSql("x")} AS sx,
       |             ${graft.core.Exact.dsumSql("x2")} AS sx2
       |      FROM t GROUP BY 1)
       |SELECT dim, n, sx / n AS mean,
       |       SQRT(GREATEST(sx2 / n - (sx / n) * (sx / n), 0.0)) AS std
       |FROM g ORDER BY dim""".stripMargin

  /** LSH-bucketed top-k: score only candidates in the query's bucket. */
  def lshTopK(emb: DataFrame, queries: DataFrame, bits: Int, dim: Int,
              k: Int): DataFrame = {
    def prep(df: DataFrame) = df.select(col("vec_id"), col("embedding"),
      VectorOps.lshBucket(col("embedding"), bits, dim).as("bkt"),
      VectorOps.norm(col("embedding")).as("nrm"))
    val bucketed = prep(emb)
    val qb = prep(queries)
    val scored = bucketed.as("t").join(broadcast(qb.as("q")),
        col("q.bkt") === col("t.bkt") && col("q.vec_id") =!= col("t.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("t.vec_id").as("vec_id"),
        VectorOps.cosineOf(VectorOps.dot(col("q.embedding"), col("t.embedding")),
          col("q.nrm"), col("t.nrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** The coarse quantizer's centroid table (cid, cvec, cnrm) — shared by
    * the batch search and the streaming packed index
    * ([[graft.streaming.SimStream]]).
    */
  def ivfCents(emb: DataFrame, nCells: Int): DataFrame =
    emb.where(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"),
        VectorOps.norm(col("embedding")).as("cnrm"))

  /** One-row packed centroid array (cid-ordered) over a (cid, cvec, cnrm)
    * table — the broadcast form both the batch row-local assignment and
    * the streaming kernels fold over.
    */
  def centsPacked(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(
      struct(col("cid"), col("cvec"), col("cnrm")))).as("cents"))

  /** Per-centroid cosine scores of one vector against the packed centroid
    * array: `array<struct<s, cid>>`, scored ONCE into the structs
    * (Catalyst does not CSE inside lambda bodies — an inline fold would
    * pay the O(dim) dot kernel twice per step). Shared by the batch
    * assignment and the streaming kernels so the scoring convention
    * cannot drift.
    */
  private[graft] def centScores(vec: Column, nrm: Column,
                                cents: Column): Column =
    transform(cents, c => struct(
      VectorOps.cosineOf(VectorOps.dot(vec, c.getField("cvec")),
        nrm, c.getField("cnrm")).as("s"),
      c.getField("cid").as("cid")))

  /** Row-local centroid argmax over the cid-ORDERED score array, matching
    * the batch (ccos DESC, cid ASC) window ranking incl. NaN placement: a
    * NaN score beats every real score (window DESC puts NaN first), among
    * NaN scores the FIRST — smallest cid — wins because a NaN accumulator
    * is never overwritten, and among real scores the strictly-greater
    * fold keeps the smallest cid on ties. Single-sourced for batch and
    * stream (parity pinned by SimStreamSpec / ZeroVectorParitySpec).
    */
  private[graft] def bestCid(scents: Column): Column =
    aggregate(scents,
      struct(lit(Double.NegativeInfinity).as("s"), lit(-1L).as("cid")),
      (acc, c) => when(
        (isnan(c.getField("s")) && !isnan(acc.getField("s"))) ||
          c.getField("s") > acc.getField("s"), c).otherwise(acc))
      .getField("cid")

  /** Assign vectors to their max-cosine centroid in an EXISTING centroid
    * table (cid, cvec, cnrm), ties on centroid id — deterministic and
    * engine-comparable. This is also the incremental-maintenance entry
    * point: a refresh batch of NEW vectors assigned against the frozen
    * quantizer produces exactly the rows a full rebuild with the same
    * centroids would (IvfAppendSpec), so an index stays append-only
    * between coarse-quantizer retrains — at 100 TB the retrain is the
    * expensive rare event, the append is one broadcast join per batch.
    *
    * Plan shape: the argmax is ROW-LOCAL over the broadcast packed
    * centroid array — no explode, no per-vector window sort, no exchange
    * on the corpus side (the only shuffle in the plan is the nCells-row
    * centroid packing). The kernel is the native codegen'd
    * [[graft.expr.IvfBestCell]]: the [[bestCid]]∘[[centScores]] HOF fold
    * has identical semantics (NativeAssignSpec pins them equal row-for-
    * row) but is CodegenFallback and interprets the scoring subtree per
    * centroid — measured 1.8 s/Mvec/centroid vs the kernel's tight loop
    * (NOTES_r10). The streaming query side keeps the HOF form (it
    * needs the full score array for multi-probe, and its cardinality is
    * queries, not corpus).
    */
  def ivfAssign(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
        VectorOps.norm(col("embedding")).as("nrm"))
      .crossJoin(broadcast(centsPacked(cents)))
      // degenerate-input guard: an EMPTY centroid table must yield an
      // empty assignment (as the old crossJoin + window form and the
      // DuckDB oracle produce), not every vector silently labeled with
      // the fold's -1 seed. Guarding on the ARRAY, not on cell = -1, is
      // deliberate: this predicate is pushed into the nested-loop join
      // condition, where a cell-based guard would evaluate the whole
      // argmax kernel a second time per row (measured 2× the assignment
      // cost, NOTES_r10) while size(cents) > 0 is O(1)
      .where(size(col("cents")) > 0)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        graft.expr.IvfBestCell(col("embedding"), col("nrm"), col("cents"),
          VectorOps.Scale).as("cell"))

  /** Corpus cell assignment (vec_id, embedding, nrm, cell): every vector
    * to its max-cosine centroid, ties on centroid id — deterministic and
    * engine-comparable. Shared by [[ivfTopK]] and the streaming index.
    */
  def ivfCells(emb: DataFrame, nCells: Int): DataFrame =
    ivfAssign(emb, ivfCents(emb, nCells))

  /** IVF-flavored top-k: a coarse quantizer of `nCells` centroids (here
    * the first nCells vectors by id — a deterministic stand-in for trained
    * k-means centroids), every vector assigned to its nearest centroid
    * cell, search restricted to the query's cell. The cell id is a
    * partition key at scale — the inverted-file layout. Ties in the
    * nearest-centroid argmin break on centroid id, so the index is
    * deterministic and engine-comparable.
    */
  def ivfTopK(emb: DataFrame, queries: DataFrame, nCells: Int, dim: Int,
              k: Int): DataFrame = {
    val cells = ivfCells(emb, nCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qcells = cells.join(
      broadcast(queries.select(col("vec_id").as("qid"))),
      col("vec_id") === col("qid"))
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
        col("nrm").as("qnrm"), col("cell").as("qcell"))
    val scored = cells.as("t").join(broadcast(qcells),
        col("qcell") === col("t.cell") && col("q_id") =!= col("t.vec_id"))
      .select(col("q_id").as("query_id"), col("t.vec_id").as("vec_id"),
        VectorOps.cosineOf(VectorOps.dot(col("qvec"), col("t.embedding")),
          col("qnrm"), col("t.nrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val out = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
    Persist.handoff(out, cells)
  }

  /** IVF with nProbe > 1 — the standard IVF recall knob: each query
    * searches its nProbe nearest cells instead of one. Probe selection is
    * the same deterministic (ccos DESC, cid ASC) ranking as the nProbe=1
    * assignment, so nProbe=1 reproduces [[ivfTopK]] exactly; every corpus
    * vector lives in exactly one cell and probes are distinct, so no
    * candidate dedup is needed. Cost scales linearly in nProbe while the
    * probe set stays a broadcast (queries × nProbe rows); recall climbs
    * steeply because a near neighbor just across a Voronoi edge — the
    * single-cell miss mode — is found in the second probe.
    */
  def ivfTopKProbed(emb: DataFrame, queries: DataFrame, nCells: Int,
                    dim: Int, k: Int, nProbe: Int): DataFrame = {
    val cells = ivfCells(emb, nCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = ivfTopKProbedOn(cells, ivfCents(emb, nCells), queries,
      k, nProbe)
    Persist.handoff(out, cells)
  }

  /** [[ivfTopKProbed]]'s search half against an ALREADY-BUILT index —
    * `cells` the assigned (vec_id, embedding, nrm, cell) table, `cents`
    * the (cid, cvec, cnrm) quantizer. The DQL registry dispatches here
    * against its memoized index artifact, so the per-query cost is the
    * probed cells' population, never an index rebuild; `nProbe =` the
    * cell count degrades gracefully to EXHAUSTIVE exact search (every
    * corpus vector lives in exactly one cell, so all-cells coverage ≡
    * [[bruteTopK]] bit-for-bit — the identity the dql_pipeline_simtopk
    * gates pin against the brute oracle). The only nested-loop join is
    * queries × nCells centroids — bounded by the quantizer, not the
    * corpus; the corpus-side candidate join is equi on cell id.
    */
  def ivfTopKProbedOn(cells: DataFrame, cents: DataFrame,
                      queries: DataFrame, k: Int,
                      nProbe: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    probeScored(cells, cents, queries, nProbe)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Radius search against an ALREADY-BUILT IVF index: the same probed
    * candidate scoring as [[ivfTopKProbedOn]], selected by the threshold
    * filter instead of the window rank (no per-query exchange at all).
    * `nProbe =` the cell count is EXACT — every corpus vector lives in
    * exactly one probed cell, so the candidate set is the full corpus
    * minus self and the result ≡ [[rangeSearch]] bit-for-bit (the NaN
    * zero-norm convention carries: Spark orders NaN above any threshold
    * in both forms) — while the corpus-side join stays equi on cell id,
    * never a full-corpus nested loop.
    */
  def ivfRangeOn(cells: DataFrame, cents: DataFrame, queries: DataFrame,
                 minCos: Double, nProbe: Int): DataFrame =
    probeScored(cells, cents, queries, nProbe)
      .where(col("cos") >= minCos)

  /** shared probed candidate scoring: (query_id, vec_id, cos) for every
    * corpus vector in one of the query's nProbe nearest cells
    */
  private def probeScored(cells: DataFrame, cents: DataFrame,
                          queries: DataFrame, nProbe: Int): DataFrame = {
    val qemb = queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qvec"))
      .withColumn("qnrm", VectorOps.norm(col("qvec")))
    val qscored = qemb.crossJoin(broadcast(cents))
      .withColumn("ccos",
        VectorOps.cosineOf(VectorOps.dot(col("qvec"), col("cvec")),
          col("qnrm"), col("cnrm")))
    val wp = Window.partitionBy("q_id")
      .orderBy(col("ccos").desc, col("cid").asc)
    val probes = qscored.withColumn("rn", row_number().over(wp))
      .where(col("rn") <= nProbe)
      .select(col("q_id"), col("qvec"), col("qnrm"), col("cid").as("qcell"))
    cells.as("t").join(broadcast(probes),
        col("qcell") === col("t.cell") && col("q_id") =!= col("t.vec_id"))
      .select(col("q_id").as("query_id"), col("t.vec_id").as("vec_id"),
        VectorOps.cosineOf(VectorOps.dot(col("qvec"), col("t.embedding")),
          col("qnrm"), col("t.nrm")).as("cos"))
  }

  /** Per-vector int8 scalar quantization of an assigned-cell table
    * (vec_id, embedding, cell, …): each vector stores its own (lo, step)
    * linear grid and a 1-byte code per dimension — 4× less index memory
    * than float32, which is THE resident-index constraint at 100 TB
    * (the full-precision corpus stays in cold storage for reranking).
    * Deterministic and engine-comparable: codes are half-up-rounded grid
    * positions, reconstruction is `lo + code*step` in exact double
    * arithmetic, so the DuckDB oracle rebuilds bit-identical values.
    * Constant vectors (range 0) code to grid position 0 everywhere and
    * reconstruct to `lo` exactly.
    */
  def sq8Quantize(assigned: DataFrame): DataFrame = {
    val lo = array_min(col("embedding")).cast("double")
    val rng = array_max(col("embedding")).cast("double") - lo
    val base = assigned.withColumn("lo", lo).withColumn("rng", rng)
      .withColumn("step", col("rng") / 255d)
    val code = transform(col("embedding"), v =>
      when(col("rng") === 0d, lit(-128).cast("byte"))
        .otherwise((round((v.cast("double") - col("lo")) / col("rng") * 255)
          - 128).cast("byte")))
    val coded = base.withColumn("code", code)
    val dq = VectorOps.sq8Dequant(col("code"), col("lo"), col("step"))
    coded.withColumn("dnrm", sqrt(VectorOps.dot(dq, dq)))
      .select(col("vec_id"), col("cell"), col("lo"), col("step"),
        col("code"), col("dnrm"))
  }

  /** The production ANN configuration — BOTH knobs at once: nProbe > 1
    * (recall across Voronoi edges) over the int8-quantized index (4×
    * memory). Probe selection is the full-precision centroid ranking
    * (the quantizer centroids are tiny — compressing them buys nothing
    * and costs recall); candidate scoring is the asymmetric quantized
    * cosine. nProbe=1 reproduces [[ivfSq8QuantTopK]] exactly.
    */
  def ivfSq8QuantTopKProbed(emb: DataFrame, queries: DataFrame,
                            nCells: Int, dim: Int, k: Int,
                            nProbe: Int): DataFrame = {
    val cells = ivfCells(emb, nCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Persist.handoff(
      ivfSq8QuantTopKProbedOn(sq8Quantize(cells), ivfCents(emb, nCells),
        queries, k, nProbe), cells)
  }

  /** [[ivfSq8QuantTopKProbed]]'s search half against an ALREADY-BUILT
    * quantized index — `idx` the [[sq8Quantize]] table, `cents` the
    * (cid, cvec, cnrm) quantizer. The DQL registry dispatches here
    * against its memoized SQ8 artifact (the resident 4×-smaller index),
    * so the per-query cost is the probed cells' population, never an
    * index rebuild; the only nested loop is queries × nCells centroids.
    */
  def ivfSq8QuantTopKProbedOn(idx: DataFrame, cents: DataFrame,
                              queries: DataFrame, k: Int,
                              nProbe: Int): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val qemb = queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qvec"))
      .withColumn("qnrm", VectorOps.norm(col("qvec")))
    val cscored = qemb.crossJoin(broadcast(cents))
      .withColumn("ccos",
        VectorOps.cosineOf(VectorOps.dot(col("qvec"), col("cvec")),
          col("qnrm"), col("cnrm")))
    val wp = Window.partitionBy("q_id")
      .orderBy(col("ccos").desc, col("cid").asc)
    val probes = cscored.withColumn("rn", row_number().over(wp))
      .where(col("rn") <= nProbe)
      .select(col("q_id"), col("qvec"), col("qnrm"), col("cid").as("qcell"))
    val dq = VectorOps.sq8Dequant(col("code"), col("lo"), col("step"))
    val scored = idx.as("t").join(broadcast(probes),
        col("qcell") === col("t.cell") && col("q_id") =!= col("t.vec_id"))
      .select(col("q_id").as("query_id"), col("t.vec_id").as("vec_id"),
        VectorOps.cosineOf(VectorOps.dot(col("qvec"), dq),
          col("qnrm"), col("dnrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  def ivfSq8QuantTopKProbedSql(nCells: Int, dim: Int, k: Int, nProbe: Int,
                               queryIds: String): String = {
    val cos = VectorOps.cosineSql("e.embedding", "c.embedding", dim)
    s"""WITH ${assignedCteSql(nCells, dim)},
       |${sq8QuantCteSql(dim)},
       |qcells AS (
       |  SELECT q_id, qvec, qcell FROM (
       |    SELECT e.vec_id AS q_id, e.embedding AS qvec, c.cid AS qcell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY $cos DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |    WHERE e.vec_id IN ($queryIds))
       |  WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT q.q_id AS query_id, t.vec_id AS vec_id,
       |         ${sq8CosSql(dim)} AS cos
       |  FROM quant t JOIN qcells q
       |    ON q.qcell = t.cell AND q.q_id <> t.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Shared first stage of both SQ8 searches: persisted cells, the
    * quantized index, the broadcast query rows, and the asymmetric
    * quantized score per in-cell candidate — returns the scored frame
    * (q_id, qvec, qnrm, vec_id, qcos) plus the cells handle for
    * [[Persist.handoff]].
    */
  private def sq8Scored(emb: DataFrame, queries: DataFrame,
                        nCells: Int): (DataFrame, DataFrame) = {
    val cells = ivfCells(emb, nCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idx = sq8Quantize(cells)
    val qcells = cells.join(
      broadcast(queries.select(col("vec_id").as("qid"))),
      col("vec_id") === col("qid"))
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
        col("nrm").as("qnrm"), col("cell").as("qcell"))
    val dq = VectorOps.sq8Dequant(col("code"), col("lo"), col("step"))
    val scored = idx.as("t").join(broadcast(qcells),
        col("qcell") === col("t.cell") && col("q_id") =!= col("t.vec_id"))
      .select(col("q_id"), col("qvec"), col("qnrm"),
        col("t.vec_id").as("vec_id"),
        VectorOps.cosineOf(VectorOps.dot(col("qvec"), dq),
          col("qnrm"), col("dnrm")).as("qcos"))
    (scored, cells)
  }

  /** IVF search over the scalar-quantized index with full-precision
    * rerank: candidates in the query's cell are scored against the
    * DEQUANTIZED codes (asymmetric — the query stays float32), the top
    * `rerank` survivors are re-scored with the exact kernel against the
    * full-precision embeddings, and the final top-k ranks by exact
    * cosine. `rerank` at least the cell size makes the output identical
    * to [[ivfTopK]] by construction (the shortlist is the whole cell);
    * `rerank` ≈ 3k keeps it near-identical at a fraction of the exact
    * scoring (Sq8Spec measures the match rate). At 100 TB the quantized
    * index is the resident artifact (4× smaller), the rerank join is a
    * broadcast of queries × rerank ids against the cold full-precision
    * table — an equi-join on vec_id, never a second cell scan.
    */
  def ivfSq8TopK(emb: DataFrame, queries: DataFrame, nCells: Int,
                 dim: Int, k: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val (qscored, cells) = sq8Scored(emb, queries, nCells)
    val ws = Window.partitionBy("q_id")
      .orderBy(col("qcos").desc, col("vec_id").asc)
    val shortlist = qscored.withColumn("srn", row_number().over(ws))
      .where(col("srn") <= rerank)
      .select(col("q_id"), col("qvec"), col("qnrm"), col("vec_id"))
    val full = emb.select(col("vec_id").as("t_id"),
      col("embedding").as("tvec"),
      VectorOps.norm(col("embedding")).as("tnrm"))
    val rescored = full.join(broadcast(shortlist),
        col("t_id") === col("vec_id"))
      .select(col("q_id").as("query_id"), col("vec_id"),
        VectorOps.cosineOf(VectorOps.dot(col("qvec"), col("tvec")),
          col("qnrm"), col("tnrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val out = rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
    Persist.handoff(out, cells)
  }

  /** Quantized-only IVF ranking — what a memory-constrained resident
    * index answers BY ITSELF, before any full-precision rerank: ranks by
    * the asymmetric quantized cosine (float query × dequantized int8
    * corpus). This is the streaming posture
    * ([[graft.streaming.SimStream.topKAgainstSq8Index]] — a stateless
    * stream cannot re-sort after a rerank join), and its batch twin here
    * is the parity/oracle anchor for that path.
    */
  def ivfSq8QuantTopK(emb: DataFrame, queries: DataFrame, nCells: Int,
                      dim: Int, k: Int): DataFrame = {
    val (scored, cells) = sq8Scored(emb, queries, nCells)
    val w = Window.partitionBy("q_id")
      .orderBy(col("qcos").desc, col("vec_id").asc)
    val out = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id").as("query_id"), col("vec_id"),
        col("qcos").as("cos"), col("rank"))
    Persist.handoff(out, cells)
  }

  /** Shared oracle prefix: the deterministic first-`nCells` coarse
    * quantizer (`cents`) and the full-corpus nearest-centroid assignment
    * (`assigned`) — every IVF-family oracle opens with these two CTEs,
    * single-sourced so the assignment convention (fixed-point cosine,
    * (cos DESC, cid ASC) tie-break) cannot drift per-oracle.
    */
  def assignedCteSql(nCells: Int, dim: Int): String = {
    val cos = VectorOps.cosineSql("e.embedding", "c.embedding", dim)
    s"""cents AS (SELECT vec_id AS cid, embedding FROM embeddings
       |               WHERE vec_id < $nCells),
       |assigned AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cid AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY $cos DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1)""".stripMargin
  }

  /** The per-vector SQ8 quantization CTE (`quant`) over `assigned` —
    * the DuckDB mirror of [[sq8Quantize]], shared by the quantized
    * oracles. */
  def sq8QuantCteSql(dim: Int): String =
    s"""quant AS (
       |  SELECT vec_id, cell, lo, step,
       |         [${VectorOps.sq8CodeSql("embedding[i]", "lo", "rng")}
       |          for i in range(1, ${dim + 1})] AS code0
       |  FROM (SELECT vec_id, cell, embedding,
       |               CAST(list_min(embedding) AS DOUBLE) AS lo,
       |               CAST(list_max(embedding) AS DOUBLE) -
       |                 CAST(list_min(embedding) AS DOUBLE) AS rng,
       |               (CAST(list_max(embedding) AS DOUBLE) -
       |                 CAST(list_min(embedding) AS DOUBLE))/255 AS step
       |        FROM assigned))""".stripMargin

  /** the asymmetric quantized cosine (float query q × dequantized t) */
  private def sq8CosSql(dim: Int): String =
    s"${VectorOps.sq8DotSql("q.qvec", "t.lo", "t.code0", "t.step", dim)} / " +
      s"(${VectorOps.normSql("q.qvec", dim)} * " +
      s"${VectorOps.sq8NormSql("t.lo", "t.code0", "t.step", dim)})"

  def ivfSq8QuantTopKSql(nCells: Int, dim: Int, k: Int,
                         queryIds: String): String =
    s"""WITH ${assignedCteSql(nCells, dim)},
       |${sq8QuantCteSql(dim)},
       |qcells AS (SELECT vec_id AS q_id, embedding AS qvec, cell AS qcell
       |           FROM assigned WHERE vec_id IN ($queryIds)),
       |scored AS (
       |  SELECT q.q_id AS query_id, t.vec_id AS vec_id,
       |         ${sq8CosSql(dim)} AS cos
       |  FROM quant t JOIN qcells q
       |    ON q.qcell = t.cell AND q.q_id <> t.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  def ivfSq8TopKSql(nCells: Int, dim: Int, k: Int, rerank: Int,
                    queryIds: String): String =
    s"""WITH ${assignedCteSql(nCells, dim)},
       |${sq8QuantCteSql(dim)},
       |qcells AS (SELECT vec_id AS q_id, embedding AS qvec, cell AS qcell
       |           FROM assigned WHERE vec_id IN ($queryIds)),
       |qscored AS (
       |  SELECT q.q_id, q.qvec, t.vec_id,
       |         ${sq8CosSql(dim)} AS qcos
       |  FROM quant t JOIN qcells q
       |    ON q.qcell = t.cell AND q.q_id <> t.vec_id),
       |shortlist AS (
       |  SELECT q_id, qvec, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY qcos DESC, vec_id) AS srn FROM qscored)
       |  WHERE srn <= $rerank),
       |rescored AS (
       |  SELECT s.q_id AS query_id, s.vec_id,
       |         ${VectorOps.cosineSql("s.qvec", "e.embedding", dim)} AS cos
       |  FROM shortlist s JOIN embeddings e ON e.vec_id = s.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM rescored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  def ivfTopKProbedSql(nCells: Int, dim: Int, k: Int, nProbe: Int,
                       queryIds: String): String = {
    val cos = VectorOps.cosineSql("e.embedding", "c.embedding", dim)
    s"""WITH ${assignedCteSql(nCells, dim)},
       |qprobe AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cid AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY $cos DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |    WHERE e.vec_id IN ($queryIds))
       |  WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT q.vec_id AS query_id, t.vec_id AS vec_id,
       |         ${VectorOps.cosineSql("q.embedding", "t.embedding", dim)} AS cos
       |  FROM assigned t JOIN qprobe q ON q.cell = t.cell AND q.vec_id <> t.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  def ivfTopKSql(nCells: Int, dim: Int, k: Int, queryIds: String): String =
    s"""WITH ${assignedCteSql(nCells, dim)},
       |q AS (SELECT * FROM assigned WHERE vec_id IN ($queryIds)),
       |scored AS (
       |  SELECT q.vec_id AS query_id, t.vec_id AS vec_id,
       |         ${VectorOps.cosineSql("q.embedding", "t.embedding", dim)} AS cos
       |  FROM assigned t JOIN q ON q.cell = t.cell AND q.vec_id <> t.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two ranked
    * retrievals — the standard hybrid-search combiner (modern RAG fuses
    * a dense ANN list with a lexical list exactly like this): each
    * candidate scores `Σ 1/(60 + rank_i)` over the lists that returned
    * it, re-ranked per query. Terms are rounded to 9 decimals and
    * summed in plain double (≤ 2 terms — exact regardless of order);
    * ties break on vec_id like every ranking kernel here.
    *
    * Scale shape: the inputs are already per-query top-k lists (tiny);
    * one full-outer equi-join on (query_id, vec_id) + a per-query
    * window over ≤ 2k rows. The retrievals themselves carry their own
    * scale stories.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    def side(df: DataFrame, r: String) =
      df.select(col("query_id"), col("vec_id"), col("rank").as(r))
    val term = (r: String) =>
      coalesce(round(lit(1.0) / (lit(60) + col(r)), 9), lit(0.0))
    val fused = side(a, "rank_a")
      .join(side(b, "rank_b"), Seq("query_id", "vec_id"), "full_outer")
      .withColumn("rrf", term("rank_a") + term("rank_b"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("vec_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "vec_id", "rrf", "rank")
  }

  /** DuckDB mirror of [[rrfFuse]]: `aSql`/`bSql` are complete ranked
    * queries (query_id, vec_id, …, rank) — nested as CTE bodies.
    */
  def rrfFuseSql(aSql: String, bSql: String, k: Int): String =
    s"""WITH la AS ($aSql),
       |lb AS ($bSql),
       |fused AS (
       |  SELECT COALESCE(la.query_id, lb.query_id) AS query_id,
       |         COALESCE(la.vec_id, lb.vec_id) AS vec_id,
       |         COALESCE(ROUND(1.0 / (60 + la.rank), 9), 0.0) +
       |         COALESCE(ROUND(1.0 / (60 + lb.rank), 9), 0.0) AS rrf
       |  FROM la FULL OUTER JOIN lb
       |    ON la.query_id = lb.query_id AND la.vec_id = lb.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY rrf DESC, vec_id) AS rank
       |           FROM fused)
       |SELECT query_id, vec_id, rrf, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Multi-probe LSH top-k: candidates come from the query's own bucket
    * PLUS every 1-bit-flip neighbor bucket (bits+1 probes). Recall rises
    * steeply (a near neighbor differing in one hyperplane sign is found)
    * while cost stays ~(bits+1)/2^bits of brute force — the standard
    * probe-sequence trade. Each corpus vector lives in exactly one bucket
    * and probes are distinct, so no candidate dedup is needed.
    */
  def lshMultiProbeTopK(emb: DataFrame, queries: DataFrame, bits: Int,
                        dim: Int, k: Int): DataFrame =
    lshMultiProbeTopKOn(lshPrep(emb, bits, dim),
      lshPrep(queries, bits, dim), bits, k)

  /** [[lshMultiProbeTopK]]'s search half against an ALREADY-BUCKETED
    * corpus (a [[lshPrep]] artifact — same shape the range search
    * probes): the DQL registry dispatches here against its memoized band
    * index, so each query pays bits+1 bucket probes and never a corpus
    * re-hash.
    */
  def lshMultiProbeTopKOn(bucketed: DataFrame, queriesPrepped: DataFrame,
                          bits: Int, k: Int): DataFrame = {
    val probes = queriesPrepped.withColumn("probe",
      explode(array(col("bkt") +:
        (0 until bits).map(j => col("bkt").bitwiseXOR(lit(1L << j))): _*)))
    val scored = bucketed.as("t").join(broadcast(probes.as("q")),
        col("q.probe") === col("t.bkt") && col("q.vec_id") =!= col("t.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("t.vec_id").as("vec_id"),
        VectorOps.cosineOf(VectorOps.dot(col("q.embedding"), col("t.embedding")),
          col("q.nrm"), col("t.nrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  def lshMultiProbeTopKSql(bits: Int, dim: Int, k: Int,
                           querySel: String): String = {
    val probeList = ("q.bkt" +: (0 until bits).map(j =>
      s"xor(q.bkt, ${1L << j})")).mkString("[", ", ", "]")
    s"""WITH b AS (SELECT vec_id, embedding,
       |           ${VectorOps.lshBucketSql("embedding", bits, dim)} AS bkt
       |           FROM embeddings),
       |q AS (SELECT * FROM b WHERE vec_id IN ($querySel)),
       |probes AS (SELECT q.vec_id, q.embedding, p.probe
       |           FROM q, unnest($probeList) AS p(probe)),
       |scored AS (
       |  SELECT q.vec_id AS query_id, t.vec_id AS vec_id,
       |         ${VectorOps.cosineSql("q.embedding", "t.embedding", dim)} AS cos
       |  FROM b t JOIN probes q ON q.probe = t.bkt AND q.vec_id <> t.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** IVF with a TRAINED coarse quantizer: deterministic seeding (first
    * nCells vectors), then `iters` Lloyd updates — assign all vectors to
    * their argmax-cosine centroid, recompute each centroid as the exact
    * per-dimension mean of its members — then the final assignment builds
    * the inverted file and search is restricted to the query's cell.
    *
    * Exactness: member sums per dimension go through the fixed-point
    * convention (round(v·1e7) summed as BIGINT — associative, partition-
    * order-independent), and the mean is two deterministic double
    * divisions, so centroids — and therefore assignments and final ranks —
    * are bit-identical to the DuckDB oracle at every iteration count.
    * Empty cells drop out of the centroid set identically on both
    * engines.
    *
    * Scale shape: assignment is the row-local [[bestCid]] fold over the
    * broadcast packed centroids (no corpus exchange — see [[ivfAssign]]);
    * the centroid update is a (cell, dim) groupBy with map-side partial
    * aggregation; iterations multiply cost linearly, not the plan depth
    * (each round materializes only nCells × dim rows). Training recall:
    * TrainedIvfSpec pins recall@5 at nProbe=1 climbing above the raw
    * first-N seed on a CLUSTERED corpus with deliberately displaced
    * seeds — the case training exists for. On the driver's near-uniform
    * synthetic embeddings training cannot beat the seed (measured
    * 0.47–0.50 vs 0.510 across iters 1–6, identical cell balance;
    * NOTES_r10) because there is no cluster structure to find —
    * recall there is probe-count-bound, not trainer-bound.
    */
  def ivfTrainedTopK(emb: DataFrame, queries: DataFrame, nCells: Int,
                     dim: Int, k: Int, iters: Int = 1): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    def update(assigned: DataFrame): DataFrame = {
      val sums = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "v")))
        .groupBy("cell", "i")
        .agg(sum(round(col("v").cast("double") * 1e7).cast("long")).as("s"),
          count(lit(1)).as("n"))
      sums.groupBy(col("cell").as("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(i, s, n))), " +
          "x -> CAST(x.s AS DOUBLE)/1e7/x.n)").as("cvec"))
        .withColumn("cnrm", VectorOps.norm(col("cvec")))
    }
    val c0 = emb.where(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"),
        VectorOps.norm(col("embedding")).as("cnrm"))
    val cT = (1 to iters).foldLeft(c0)((c, _) => update(ivfAssign(emb, c)))
    val cells = ivfAssign(emb, cT)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qcells = cells.join(
      broadcast(queries.select(col("vec_id").as("qid"))),
      col("vec_id") === col("qid"))
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
        col("nrm").as("qnrm"), col("cell").as("qcell"))
    val scored = cells.as("t").join(broadcast(qcells),
        col("qcell") === col("t.cell") && col("q_id") =!= col("t.vec_id"))
      .select(col("q_id").as("query_id"), col("t.vec_id").as("vec_id"),
        VectorOps.cosineOf(VectorOps.dot(col("qvec"), col("t.embedding")),
          col("qnrm"), col("t.nrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val out = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
    Persist.handoff(out, cells)
  }

  def ivfTrainedTopKSql(nCells: Int, dim: Int, k: Int,
                        queryIds: String, iters: Int = 1): String = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    def assignSql(centsRel: String, out: String): String = {
      val cos = VectorOps.cosineSql("e.embedding", "c.cvec", dim)
      s"""$out AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cid AS cell,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |             ORDER BY $cos DESC, c.cid) AS rn
         |    FROM embeddings e CROSS JOIN $centsRel c)
         |  WHERE rn = 1)""".stripMargin
    }
    def updateSql(t: Int): String =
      s"""${assignSql(s"c${t - 1}", s"a$t")},
         |sums$t AS (SELECT cell, d.i,
         |           SUM(CAST(ROUND(CAST(embedding[d.i] AS DOUBLE)*1e7, 0) AS BIGINT)) AS s,
         |           COUNT(*) AS n
         |         FROM a$t CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) d
         |         GROUP BY cell, d.i),
         |c$t AS (SELECT cell AS cid,
         |              list(CAST(s AS DOUBLE)/1e7/n ORDER BY i) AS cvec
         |       FROM sums$t GROUP BY cell)""".stripMargin
    val rounds = (1 to iters).map(updateSql).mkString(",\n")
    val fin = s"a${iters + 1}"
    s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
       |            WHERE vec_id < $nCells),
       |$rounds,
       |${assignSql(s"c$iters", fin)},
       |q AS (SELECT * FROM $fin WHERE vec_id IN ($queryIds)),
       |scored AS (
       |  SELECT q.vec_id AS query_id, t.vec_id AS vec_id,
       |         ${VectorOps.cosineSql("q.embedding", "t.embedding", dim)} AS cos
       |  FROM $fin t JOIN q ON q.cell = t.cell AND q.vec_id <> t.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  // ── IVF-PQ: product quantization ─────────────────────────────────────

  /** Per-subspace PQ codebooks: the embedding is split into `m`
    * contiguous subspaces of `dim / m` dimensions, and subspace `j`'s
    * codebook is the first `ksub` vectors' j-th subvectors — the same
    * deterministic first-N seeding as [[ivfCents]], so the codebook (and
    * therefore every code) is engine-comparable with no training step.
    * Output: (j, code, cbvec) with j ∈ [0, m), code ∈ [0, ksub).
    */
  def pqCodebooks(emb: DataFrame, m: Int, ksub: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim ($dim) must be divisible by m ($m)")
    val sub = dim / m
    emb.where(col("vec_id") < ksub)
      .select(col("vec_id").cast("int").as("code"),
        explode(sequence(lit(0), lit(m - 1))).as("j"), col("embedding"))
      .select(col("j"), col("code"),
        slice(col("embedding"), col("j") * sub + 1, lit(sub)).as("cbvec"))
  }

  /** One-row packed codebook array `cbs[j][code] = cbvec` (j- and
    * code-ordered) — the broadcast form the row-local encode and the
    * scoring reconstruction fold over, exactly like [[centsPacked]].
    */
  def pqPacked(cbs: DataFrame): DataFrame =
    cbs.groupBy("j")
      .agg(transform(sort_array(collect_list(struct(col("code"),
        col("cbvec")))), x => x.getField("cbvec")).as("cb"))
      .agg(transform(sort_array(collect_list(struct(col("j"), col("cb")))),
        x => x.getField("cb")).as("cbs"))

  /** Row-local PQ encode, composed HOF form: for each subspace, the
    * codebook entry at minimum L2 distance from the vector's subvector,
    * ties on the smaller code. Distances compare in EXACT integer space:
    * d = dotL(v,v) + dotL(c,c) − 2·dotL(v,c) over the scaled-long
    * fixed-point dots, so the argmin — and therefore every code — is
    * bit-identical to the DuckDB oracle regardless of partition order.
    *
    * This is the SEMANTICS CONTRACT for the native
    * [[graft.expr.PqEncode]] kernel that [[pqEncode]] actually runs
    * (transform∘aggregate nests are CodegenFallback — measured
    * 102 s/Mvec at ksub=16, NOTES_r10); NativePqEncodeSpec pins the
    * two equal row-for-row.
    */
  private[graft] def pqCodes(vec: Column, cbs: Column, m: Int,
                             sub: Int): Column = {
    def dotL(a: Column, b: Column): Column =
      graft.expr.FixedPointDot(a, b, VectorOps.Scale)
    transform(sequence(lit(0), lit(m - 1)), j => {
      val vj = slice(vec, j * sub + 1, lit(sub))
      val cbj = element_at(cbs, j + 1)
      aggregate(sequence(lit(0), size(cbj) - 1),
        struct(lit(Long.MaxValue).as("d"), lit(-1).as("c")),
        (acc, c) => {
          val cb = element_at(cbj, c + 1)
          val d = dotL(vj, vj) + dotL(cb, cb) - lit(2L) * dotL(vj, cb)
          when(d < acc.getField("d"),
            struct(d.as("d"), c.as("c"))).otherwise(acc)
        }).getField("c")
    })
  }

  /** Reconstruction of a PQ-coded vector: the concatenation of each
    * subspace's selected codebook entry. Same element values on both
    * engines (codebook entries are raw corpus floats), so the fixed-point
    * cosine against it is oracle-exact. Production scoring does NOT
    * materialize this — [[adcCosine]] reaches the same bits through ADC
    * lookup tables (PqAdcSpec) — but the composed form remains the
    * readable semantics contract the tables are pinned against.
    */
  private[graft] def pqRecon(codes: Column, cbs: Column, m: Int): Column =
    flatten(transform(sequence(lit(0), lit(m - 1)), j =>
      element_at(element_at(cbs, j + 1), element_at(codes, j + 1) + 1)))

  /** The composed recon-scoring kernel — the SEMANTICS CONTRACT for the
    * ADC path: cosine of the float query against the candidate's
    * codebook reconstruction via the O(dim) fixed-point dot. PqAdcSpec
    * pins [[adcCosine]] to this, row-for-row, zero-norm edges included.
    */
  private[graft] def reconCosine(codes: Column, cbs: Column, qvec: Column,
                                 qnrm: Column, m: Int): Column = {
    val recon = pqRecon(codes, cbs, m)
    VectorOps.cosineOf(VectorOps.dot(qvec, recon), qnrm,
      VectorOps.norm(recon))
  }

  /** One-row PQ norm table `lutn[j][code] = Σ_i round(cb_i²·scale)` — the
    * query-INDEPENDENT half of ADC scoring, derived once per codebook
    * (one row, m×ksub native dots inside a lambda — negligible) and
    * broadcast next to the per-query [[graft.expr.PqAdcLut]] dot table.
    */
  def pqNormLut(cbsRow: DataFrame): DataFrame =
    cbsRow.select(transform(col("cbs"), cbj =>
      transform(cbj, cb =>
        graft.expr.FixedPointDot(cb, cb, VectorOps.Scale))).as("lutn"))

  /** ADC PQ cosine: `Σ_j adc[j][codes[j]]` replaces the query·recon dot
    * and `Σ_j lutn[j][codes[j]]` the recon self-dot — exact long partial
    * sums, so the result is BIT-IDENTICAL to [[reconCosine]] (long
    * addition is associative; the division/sqrt tail is the same ops in
    * the same order as `VectorOps.dot`/`norm`). Per-candidate cost drops
    * from O(dim) rounded multiplies + a recon materialization to 2·m
    * long lookups.
    */
  def adcCosine(codes: Column, adc: Column, lutn: Column,
                qnrm: Column): Column =
    VectorOps.cosineOf(
      graft.expr.PqLutSum(codes, adc).cast("double") / VectorOps.Scale,
      qnrm,
      sqrt(graft.expr.PqLutSum(codes, lutn).cast("double") / VectorOps.Scale))

  /** Attach the two ADC tables to a query frame carrying `qvec`/`qnrm`:
    * the per-query dot table (`adc`, native one-pass [[graft.expr.PqAdcLut]])
    * and the shared norm table (`lutn`). Both joins broadcast one-row
    * frames; the codebook array itself never reaches the scoring join.
    */
  private[graft] def withAdcTables(queries: DataFrame, cbsRow: DataFrame,
                                   m: Int, dim: Int,
                                   vecCol: String): DataFrame =
    queries.crossJoin(broadcast(cbsRow))
      .withColumn("adc", graft.expr.PqAdcLut(col(vecCol), col("cbs"), m,
        dim / m, VectorOps.Scale))
      .drop("cbs")
      .crossJoin(broadcast(pqNormLut(cbsRow)))

  /** PQ-encode an assigned-cell table against a packed codebook row:
    * (vec_id, cell, codes) — `codes` is m SMALL integers, the index's
    * entire per-vector payload. At dim=64, m=8 that is 8 bytes against
    * float32's 256: a 32× resident-index compression, the rung below
    * [[sq8Quantize]]'s 4× on the memory-per-vector ladder, which is THE
    * constraint that decides how much corpus a 100 TB deployment can
    * keep hot. An empty codebook (empty corpus seed) yields an EMPTY
    * frame, mirroring [[ivfAssign]]'s degenerate-input guard.
    */
  def pqEncode(assigned: DataFrame, cbsRow: DataFrame, m: Int,
               dim: Int): DataFrame =
    assigned.crossJoin(broadcast(cbsRow))
      .where(size(col("cbs")) === m)
      .select(col("vec_id"), col("cell"),
        graft.expr.PqEncode(col("embedding"), col("cbs"), m, dim / m,
          VectorOps.Scale).as("codes"))

  /** IVF-PQ top-k: candidates in the query's IVF cell, ranked by the
    * asymmetric PQ cosine — the float32 query against each candidate's
    * codebook RECONSTRUCTION. Per-element fixed-point rounding makes the
    * dot against the reconstruction bit-equal to summing per-subspace
    * LUT entries, and scoring RUNS that way: the classic ADC execution
    * ([[withAdcTables]] + [[adcCosine]] — 2·m long lookups per candidate
    * instead of an O(dim) recon dot), bit-identical to the composed
    * [[reconCosine]] contract (PqAdcSpec) so the DuckDB oracle is
    * unchanged.
    *
    * Scale shape: the codebooks, ADC tables and query rows broadcast;
    * the corpus-side join is the cell equi-join alone — no shuffle of
    * the encoded index, no unblocked Cartesian (PqSpec asserts the
    * plan). The index payload is codes-only; the full-precision corpus
    * stays cold (add a rerank join as in [[ivfSq8TopK]] when exact final
    * ranks are needed).
    */
  def ivfPqTopK(emb: DataFrame, queries: DataFrame, nCells: Int, m: Int,
                ksub: Int, dim: Int, k: Int): DataFrame = {
    val cells = ivfCells(emb, nCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cbsRow = pqPacked(pqCodebooks(emb, m, ksub, dim))
    Persist.handoff(pqAdcSearch(cells, cbsRow, queries, m, dim, k), cells)
  }

  /** Shared single-cell ADC search tail: encode the corpus against the
    * packed codebook row, broadcast the queries with their ADC tables,
    * score candidates in the query's cell, rank top-k. Codebook-agnostic
    * — the seeded ([[ivfPqTopK]]) and Lloyd-trained
    * ([[ivfPqTrainedTopK]]) forms differ only in the `cbsRow` they pass.
    */
  private def pqAdcSearch(cells: DataFrame, cbsRow: DataFrame,
                          queries: DataFrame, m: Int, dim: Int,
                          k: Int): DataFrame = {
    val idx = pqEncode(cells, cbsRow, m, dim)
    val qcells = withAdcTables(
      cells.join(
        broadcast(queries.select(col("vec_id").as("qid"))),
        col("vec_id") === col("qid"))
        .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
          col("nrm").as("qnrm"), col("cell").as("qcell")),
      cbsRow, m, dim, "qvec")
    val scored = idx.as("t").join(broadcast(qcells),
        col("qcell") === col("t.cell") && col("q_id") =!= col("t.vec_id"))
      .select(col("q_id").as("query_id"), col("t.vec_id").as("vec_id"),
        adcCosine(col("codes"), col("adc"), col("lutn"),
          col("qnrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Lloyd-TRAINED product-quantization codebooks — k-means per subspace,
    * the way FAISS actually trains PQ (`ProductQuantizer::train`): the
    * [[pqCodebooks]] seed (the first ksub corpus subvectors) refined by
    * `iters` rounds of assign (exact integer-space L2 argmin — the
    * native [[graft.expr.PqEncode]] kernel, one pass for all m
    * subspaces) and update (per-element means through the 1e-7
    * fixed-point BIGINT sums, so centroids are partition-order-
    * independent and bit-identical to the mirrored SQL loop). A cluster
    * that loses all members keeps its previous entry (the standard
    * empty-cluster rule, deterministic on both engines).
    *
    * Scale shape per round: one broadcast of the m×ksub codebook row, one
    * corpus scan (the argmin is row-local), one map-side-combinable
    * shuffle of (j, code, i) partial sums — (m·ksub·sub) reduced rows
    * regardless of corpus size. Training cost is iters linear scans, the
    * same per-retrain profile as [[ivfTrainedTopK]]'s coarse quantizer.
    *
    * Output: (j, code, cbvec) with DOUBLE entries (the seed is cast up so
    * every round — and the packed row — carries one element type).
    */
  def pqCodebooksTrained(emb: DataFrame, m: Int, ksub: Int, dim: Int,
                         iters: Int): DataFrame = {
    require(dim % m == 0, s"dim ($dim) must be divisible by m ($m)")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val sub = dim / m
    val spark = emb.sparkSession
    import spark.implicits._
    // MATERIALIZED rounds, same rationale (and same bit-exactness
    // argument) as [[residualScbTrained]]: the codebook is m×ksub×sub
    // doubles of model state, so each round collects its means and feeds
    // the next round a sorted local relation — constant per-round plan
    // shape, one codegen compile for all rounds, instead of the nested
    // foldLeft pyramid.
    val vecs = emb.select(col("vec_id"), col("embedding"))
    def cbLocal(rows: Seq[(Int, Int, Seq[Double])]): DataFrame =
      rows.toDF("j", "code", "cbvec")
    var cb: Seq[(Int, Int, Seq[Double])] =
      pqCodebooks(emb, m, ksub, dim)
        .select(col("j"), col("code"),
          transform(col("cbvec"), x => x.cast("double")).as("cbvec"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        .sortBy(t => (t._1, t._2)).toSeq
    for (_ <- 1 to iters) {
      val cbsRow = pqPacked(cbLocal(cb))
      val means = vecs.crossJoin(broadcast(cbsRow))
        .select(col("embedding"),
          posexplode(graft.expr.PqEncode(col("embedding"), col("cbs"), m,
            sub, VectorOps.Scale)).as(Seq("j", "code")))
        .select(col("j"), col("code"),
          posexplode(transform(
            slice(col("embedding"), col("j") * sub + 1, lit(sub)),
            x => round(x.cast("double") * 1e7).cast("long")))
            .as(Seq("i", "s")))
        .groupBy("j", "code", "i")
        .agg(sum(col("s")).as("s"), count(lit(1)).as("n"))
        .groupBy("j", "code")
        .agg(expr("transform(array_sort(collect_list(struct(i, s, n))), " +
          "x -> CAST(x.s AS DOUBLE)/1e7/x.n)").as("mvec"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2))).toMap
      // a cluster that loses all members keeps its previous entry
      cb = cb.map { case (j, code, v) =>
        (j, code, means.getOrElse((j, code), v)) }
    }
    cbLocal(cb)
  }

  /** [[ivfPqTopK]] with the Lloyd-trained codebooks — training tightens
    * each subspace's entries around the corpus distribution, the recall
    * lever that needs no extra index memory (same m codes per vector).
    */
  def ivfPqTrainedTopK(emb: DataFrame, queries: DataFrame, nCells: Int,
                       m: Int, ksub: Int, dim: Int, k: Int,
                       iters: Int): DataFrame = {
    val cells = ivfCells(emb, nCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cbsRow = pqPacked(pqCodebooksTrained(emb, m, ksub, dim, iters))
    Persist.handoff(pqAdcSearch(cells, cbsRow, queries, m, dim, k), cells)
  }

  /** IVF-PQ with full-precision rerank — the production PQ posture: the
    * codes-only resident index selects a `rerank`-deep shortlist by
    * asymmetric PQ cosine, the shortlist alone is re-scored with the
    * exact kernel against the cold full-precision corpus (a broadcast
    * equi-join on vec_id — queries × rerank rows, never a second cell
    * scan), and the final top-k ranks by TRUE cosine. The same
    * two-stage contract as [[ivfSq8TopK]], one rung further down the
    * memory ladder: the resident bytes per vector drop 256 → 8 while
    * the exact stage touches only k·O(rerank) cold rows per query.
    */
  def ivfPqRerankTopK(emb: DataFrame, queries: DataFrame, nCells: Int,
                      m: Int, ksub: Int, dim: Int, k: Int,
                      rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val cells = ivfCells(emb, nCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cbsRow = pqPacked(pqCodebooks(emb, m, ksub, dim))
    val idx = pqEncode(cells, cbsRow, m, dim)
    val qcells = withAdcTables(
      cells.join(
        broadcast(queries.select(col("vec_id").as("qid"))),
        col("vec_id") === col("qid"))
        .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
          col("nrm").as("qnrm"), col("cell").as("qcell")),
      cbsRow, m, dim, "qvec")
    val qscored = idx.as("t").join(broadcast(qcells),
        col("qcell") === col("t.cell") && col("q_id") =!= col("t.vec_id"))
      .select(col("q_id"), col("qvec"), col("qnrm"),
        col("t.vec_id").as("vec_id"),
        adcCosine(col("codes"), col("adc"), col("lutn"),
          col("qnrm")).as("qcos"))
    val ws = Window.partitionBy("q_id")
      .orderBy(col("qcos").desc, col("vec_id").asc)
    val shortlist = qscored.withColumn("srn", row_number().over(ws))
      .where(col("srn") <= rerank)
      .select(col("q_id"), col("qvec"), col("qnrm"), col("vec_id"))
    val full = emb.select(col("vec_id").as("t_id"),
      col("embedding").as("tvec"),
      VectorOps.norm(col("embedding")).as("tnrm"))
    val rescored = full.join(broadcast(shortlist),
        col("t_id") === col("vec_id"))
      .select(col("q_id").as("query_id"), col("vec_id"),
        VectorOps.cosineOf(VectorOps.dot(col("qvec"), col("tvec")),
          col("qnrm"), col("tnrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val out = rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
    Persist.handoff(out, cells)
  }

  /** Multi-probe over the PQ index — the recall knob on the bottom rung
    * of the memory ladder: each query scans its `nProbe` nearest cells
    * (by centroid cosine, ties on the smaller cid — the
    * [[ivfTopKProbed]] probe order) and ranks the union by asymmetric PQ
    * cosine. Same scale shape as [[ivfPqTopK]]: probes and codebooks
    * broadcast, the corpus-side joins are the cell equi-join and the
    * one-row codebook crossJoin — candidate volume grows linearly in
    * nProbe, never a corpus shuffle. nProbe=1 reproduces [[ivfPqTopK]].
    */
  def ivfPqTopKProbed(emb: DataFrame, queries: DataFrame, nCells: Int,
                      m: Int, ksub: Int, dim: Int, k: Int,
                      nProbe: Int): DataFrame = {
    val cells = ivfCells(emb, nCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cbsRow = pqPacked(pqCodebooks(emb, m, ksub, dim))
    Persist.handoff(
      ivfPqTopKProbedOn(pqEncode(cells, cbsRow, m, dim), cbsRow,
        ivfCents(emb, nCells), queries, m, dim, k, nProbe), cells)
  }

  /** [[ivfPqTopKProbed]]'s search half against an ALREADY-BUILT PQ index
    * — `idx` the [[pqEncode]] codes table, `cbsRow` the packed codebook
    * row, `cents` the coarse quantizer. The DQL registry dispatches here
    * against its memoized PQ artifact (the codes-only bottom rung of the
    * resident-memory ladder), so the per-query cost is the probed cells'
    * population scored by 2·m ADC lookups; the only nested loops are
    * queries × nCells centroids and the one-row codebook broadcasts.
    */
  def ivfPqTopKProbedOn(idx: DataFrame, cbsRow: DataFrame,
                        cents: DataFrame, queries: DataFrame, m: Int,
                        dim: Int, k: Int, nProbe: Int): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val qemb = queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qvec"))
      .withColumn("qnrm", VectorOps.norm(col("qvec")))
    val cscored = qemb.crossJoin(broadcast(cents))
      .withColumn("ccos",
        VectorOps.cosineOf(VectorOps.dot(col("qvec"), col("cvec")),
          col("qnrm"), col("cnrm")))
    val wp = Window.partitionBy("q_id")
      .orderBy(col("ccos").desc, col("cid").asc)
    val probes = withAdcTables(
      cscored.withColumn("rn", row_number().over(wp))
        .where(col("rn") <= nProbe)
        .select(col("q_id"), col("qvec"), col("qnrm"), col("cid").as("qcell")),
      cbsRow, m, dim, "qvec")
    val scored = idx.as("t").join(broadcast(probes),
        col("qcell") === col("t.cell") && col("q_id") =!= col("t.vec_id"))
      .select(col("q_id").as("query_id"), col("t.vec_id").as("vec_id"),
        adcCosine(col("codes"), col("adc"), col("lutn"),
          col("qnrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Both PQ knobs at once — the production configuration on the bottom
    * rung of the memory ladder: nProbe cells scanned per query (recall
    * across Voronoi edges), asymmetric PQ cosine selects the
    * `rerank`-deep shortlist from the probed union, full-precision
    * re-score returns TRUE cosines. Scale shape unchanged from
    * [[ivfPqTopKProbed]] + [[ivfPqRerankTopK]]: probes, codebooks and the
    * shortlist are broadcast; corpus-side work stays the cell equi-join
    * (linear in nProbe) plus one broadcast equi-join touching k·O(rerank)
    * cold float rows. nProbe=1 reproduces [[ivfPqRerankTopK]].
    */
  def ivfPqRerankTopKProbed(emb: DataFrame, queries: DataFrame, nCells: Int,
                            m: Int, ksub: Int, dim: Int, k: Int,
                            rerank: Int, nProbe: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val cells = ivfCells(emb, nCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cbsRow = pqPacked(pqCodebooks(emb, m, ksub, dim))
    val idx = pqEncode(cells, cbsRow, m, dim)
    val cents = ivfCents(emb, nCells)
    val qemb = queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qvec"))
      .withColumn("qnrm", VectorOps.norm(col("qvec")))
    val cscored = qemb.crossJoin(broadcast(cents))
      .withColumn("ccos",
        VectorOps.cosineOf(VectorOps.dot(col("qvec"), col("cvec")),
          col("qnrm"), col("cnrm")))
    val wp = Window.partitionBy("q_id")
      .orderBy(col("ccos").desc, col("cid").asc)
    val probes = withAdcTables(
      cscored.withColumn("rn", row_number().over(wp))
        .where(col("rn") <= nProbe)
        .select(col("q_id"), col("qvec"), col("qnrm"), col("cid").as("qcell")),
      cbsRow, m, dim, "qvec")
    val qscored = idx.as("t").join(broadcast(probes),
        col("qcell") === col("t.cell") && col("q_id") =!= col("t.vec_id"))
      .select(col("q_id"), col("qvec"), col("qnrm"),
        col("t.vec_id").as("vec_id"),
        adcCosine(col("codes"), col("adc"), col("lutn"),
          col("qnrm")).as("qcos"))
    val ws = Window.partitionBy("q_id")
      .orderBy(col("qcos").desc, col("vec_id").asc)
    val shortlist = qscored.withColumn("srn", row_number().over(ws))
      .where(col("srn") <= rerank)
      .select(col("q_id"), col("qvec"), col("qnrm"), col("vec_id"))
    val full = emb.select(col("vec_id").as("t_id"),
      col("embedding").as("tvec"),
      VectorOps.norm(col("embedding")).as("tnrm"))
    val rescored = full.join(broadcast(shortlist),
        col("t_id") === col("vec_id"))
      .select(col("q_id").as("query_id"), col("vec_id"),
        VectorOps.cosineOf(VectorOps.dot(col("qvec"), col("tvec")),
          col("qnrm"), col("tnrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val out = rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
    Persist.handoff(out, cells)
  }

  /** DuckDB mirror of [[ivfPqRerankTopKProbed]]: the probed-qcells stage
    * of [[ivfPqTopKProbedSql]] with the shortlist/rescore tail of
    * [[ivfPqRerankTopKSql]].
    */
  def ivfPqRerankTopKProbedSql(nCells: Int, m: Int, ksub: Int, dim: Int,
                               k: Int, rerank: Int, nProbe: Int,
                               queryIds: String): String = {
    val cos = VectorOps.cosineSql("e.embedding", "c.embedding", dim)
    s"""WITH ${pqIndexCteSql(nCells, m, ksub, dim)},
       |qcells AS (
       |  SELECT q_id, qvec, qcell FROM (
       |    SELECT e.vec_id AS q_id, e.embedding AS qvec, c.cid AS qcell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY $cos DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |    WHERE e.vec_id IN ($queryIds))
       |  WHERE rn <= $nProbe),
       |qscored AS (
       |  SELECT q.q_id, q.qvec, t.vec_id,
       |         ${VectorOps.cosineSql("q.qvec", "t.recon", dim)} AS qcos
       |  FROM pidx t JOIN qcells q
       |    ON q.qcell = t.cell AND q.q_id <> t.vec_id),
       |shortlist AS (
       |  SELECT q_id, qvec, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY qcos DESC, vec_id) AS srn FROM qscored)
       |  WHERE srn <= $rerank),
       |rescored AS (
       |  SELECT s.q_id AS query_id, s.vec_id,
       |         ${VectorOps.cosineSql("s.qvec", "e.embedding", dim)} AS cos
       |  FROM shortlist s JOIN embeddings e ON e.vec_id = s.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM rescored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB mirror of [[ivfPqTopKProbed]]: the [[ivfPqTopKSql]] index
    * prefix with the probed-qcells stage of [[ivfSq8QuantTopKProbedSql]].
    */
  def ivfPqTopKProbedSql(nCells: Int, m: Int, ksub: Int, dim: Int, k: Int,
                         nProbe: Int, queryIds: String): String = {
    val cos = VectorOps.cosineSql("e.embedding", "c.embedding", dim)
    s"""WITH ${pqIndexCteSql(nCells, m, ksub, dim)},
       |qcells AS (
       |  SELECT q_id, qvec, qcell FROM (
       |    SELECT e.vec_id AS q_id, e.embedding AS qvec, c.cid AS qcell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY $cos DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |    WHERE e.vec_id IN ($queryIds))
       |  WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT q.q_id AS query_id, t.vec_id AS vec_id,
       |         ${VectorOps.cosineSql("q.qvec", "t.recon", dim)} AS cos
       |  FROM pidx t JOIN qcells q
       |    ON q.qcell = t.cell AND q.q_id <> t.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB mirror of [[ivfPqRerankTopK]]: the [[ivfPqTopKSql]] prefix
    * with the shortlist/rescore tail of [[ivfSq8TopKSql]].
    */
  def ivfPqRerankTopKSql(nCells: Int, m: Int, ksub: Int, dim: Int, k: Int,
                         rerank: Int, queryIds: String): String =
    s"""WITH ${pqIndexCteSql(nCells, m, ksub, dim)},
       |qcells AS (SELECT vec_id AS q_id, embedding AS qvec, cell AS qcell
       |           FROM assigned WHERE vec_id IN ($queryIds)),
       |qscored AS (
       |  SELECT q.q_id, q.qvec, t.vec_id,
       |         ${VectorOps.cosineSql("q.qvec", "t.recon", dim)} AS qcos
       |  FROM pidx t JOIN qcells q
       |    ON q.qcell = t.cell AND q.q_id <> t.vec_id),
       |shortlist AS (
       |  SELECT q_id, qvec, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY qcos DESC, vec_id) AS srn FROM qscored)
       |  WHERE srn <= $rerank),
       |rescored AS (
       |  SELECT s.q_id AS query_id, s.vec_id,
       |         ${VectorOps.cosineSql("s.qvec", "e.embedding", dim)} AS cos
       |  FROM shortlist s JOIN embeddings e ON e.vec_id = s.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM rescored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Shared PQ-oracle prefix: `assigned` (IVF cells), `cb` (first-ksub
    * subspace codebooks), `encsc`/`enc` (integer-space L2 argmin codes)
    * and `pidx` (the reconstructed index) — single-sourced so the encode
    * convention cannot drift between the quantized-only and reranked
    * oracles.
    */
  private def pqIndexCteSql(nCells: Int, m: Int, ksub: Int,
                            dim: Int): String = {
    val sub = dim / m
    def dotL(x: String, y: String): String =
      s"CAST(list_sum([CAST(ROUND(CAST($x AS DOUBLE)*CAST($y AS DOUBLE)*1e15, 0) AS BIGINT) " +
        s"for i in range(1, ${sub + 1})]) AS BIGINT)"
    val vi = s"a.embedding[cb.j*$sub + i]"
    val ci = "cb.cbvec[i]"
    s"""${assignedCteSql(nCells, dim)},
       |cb AS (SELECT js.j, CAST(e.vec_id AS INTEGER) AS code,
       |              e.embedding[(js.j*$sub+1):(js.j*$sub+$sub)] AS cbvec
       |       FROM embeddings e
       |       CROSS JOIN (SELECT unnest(range(0, $m)) AS j) js
       |       WHERE e.vec_id < $ksub),
       |encsc AS (
       |  SELECT a.vec_id, cb.j, cb.code, cb.cbvec,
       |         ${dotL(vi, vi)} + ${dotL(ci, ci)} - 2*${dotL(vi, ci)} AS d
       |  FROM assigned a CROSS JOIN cb),
       |enc AS (SELECT vec_id, j, cbvec FROM (
       |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
       |            ORDER BY d, code) AS rn FROM encsc)
       |        WHERE rn = 1),
       |pidx AS (SELECT e.vec_id, a.cell,
       |                flatten(list(e.cbvec ORDER BY e.j)) AS recon
       |         FROM enc e JOIN assigned a USING (vec_id)
       |         GROUP BY e.vec_id, a.cell)""".stripMargin
  }

  /** DuckDB mirror of [[ivfPqTopK]]: same first-ksub codebooks, same
    * integer-space L2 argmin per subspace, same reconstruction cosine.
    */
  def ivfPqTopKSql(nCells: Int, m: Int, ksub: Int, dim: Int, k: Int,
                   queryIds: String): String =
    s"""WITH ${pqIndexCteSql(nCells, m, ksub, dim)},
       |qcells AS (SELECT vec_id AS q_id, embedding AS qvec, cell AS qcell
       |           FROM assigned WHERE vec_id IN ($queryIds)),
       |scored AS (
       |  SELECT q.q_id AS query_id, t.vec_id AS vec_id,
       |         ${VectorOps.cosineSql("q.qvec", "t.recon", dim)} AS cos
       |  FROM pidx t JOIN qcells q
       |    ON q.qcell = t.cell AND q.q_id <> t.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** DuckDB mirror of [[ivfPqTrainedTopK]]: the per-subspace Lloyd loop
    * unrolled CTE-per-round — seed slices cast to DOUBLE, integer-space
    * L2 argmin assignment (d, code tie order), 1e-7 fixed-point BIGINT
    * mean update with the empty-cluster COALESCE — then the standard
    * encode/reconstruct/score tail against the final codebook.
    */
  def ivfPqTrainedTopKSql(nCells: Int, m: Int, ksub: Int, dim: Int, k: Int,
                          queryIds: String, iters: Int): String = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val sub = dim / m
    def dotL(x: String, y: String): String =
      s"CAST(list_sum([CAST(ROUND(CAST($x AS DOUBLE)*CAST($y AS DOUBLE)*1e15, 0) AS BIGINT) " +
        s"for i in range(1, ${sub + 1})]) AS BIGINT)"
    val vi = s"a.embedding[cb.j*$sub + i]"
    val ci = "cb.cbvec[i]"
    val d = s"${dotL(vi, vi)} + ${dotL(ci, ci)} - 2*${dotL(vi, ci)}"
    def roundSql(t: Int): String =
      s"""es$t AS (SELECT a.vec_id, cb.j, cb.code, $d AS d
         |    FROM assigned a CROSS JOIN cb${t - 1} cb),
         |en$t AS (SELECT vec_id, j, code FROM (
         |      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
         |        ORDER BY d, code) AS rn FROM es$t) WHERE rn = 1),
         |sm$t AS (SELECT e.j, e.code, di.i,
         |      SUM(CAST(ROUND(CAST(a.embedding[e.j*$sub + di.i] AS DOUBLE)*1e7, 0) AS BIGINT)) AS s,
         |      COUNT(*) AS n
         |    FROM en$t e JOIN assigned a USING (vec_id)
         |    CROSS JOIN (SELECT unnest(range(1, ${sub + 1})) AS i) di
         |    GROUP BY 1, 2, 3),
         |mn$t AS (SELECT j, code, list(CAST(s AS DOUBLE)/1e7/n ORDER BY i) AS mvec
         |    FROM sm$t GROUP BY 1, 2),
         |cb$t AS (SELECT p.j, p.code, COALESCE(m.mvec, p.cbvec) AS cbvec
         |    FROM cb${t - 1} p LEFT JOIN mn$t m USING (j, code))"""
        .stripMargin
    val rounds = (1 to iters).map(roundSql).mkString(",\n")
    s"""WITH ${assignedCteSql(nCells, dim)},
       |cb0 AS (SELECT js.j, CAST(e.vec_id AS INTEGER) AS code,
       |               [CAST(x AS DOUBLE) for x in
       |                e.embedding[(js.j*$sub+1):(js.j*$sub+$sub)]] AS cbvec
       |        FROM embeddings e
       |        CROSS JOIN (SELECT unnest(range(0, $m)) AS j) js
       |        WHERE e.vec_id < $ksub),
       |$rounds,
       |esF AS (SELECT a.vec_id, cb.j, cb.code, cb.cbvec, $d AS d
       |    FROM assigned a CROSS JOIN cb$iters cb),
       |enF AS (SELECT vec_id, j, cbvec FROM (
       |      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
       |        ORDER BY d, code) AS rn FROM esF) WHERE rn = 1),
       |pidx AS (SELECT e.vec_id, a.cell,
       |                flatten(list(e.cbvec ORDER BY e.j)) AS recon
       |         FROM enF e JOIN assigned a USING (vec_id)
       |         GROUP BY e.vec_id, a.cell),
       |qcells AS (SELECT vec_id AS q_id, embedding AS qvec, cell AS qcell
       |           FROM assigned WHERE vec_id IN ($queryIds)),
       |scored AS (
       |  SELECT q.q_id AS query_id, t.vec_id AS vec_id,
       |         ${VectorOps.cosineSql("q.qvec", "t.recon", dim)} AS cos
       |  FROM pidx t JOIN qcells q
       |    ON q.qcell = t.cell AND q.q_id <> t.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  // ── Residual IVF-PQ: the IVFADC layout ───────────────────────────────

  /** Per-cell SHIFTED residual codebooks — the classic IVFADC encoding
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011): PQ codes quantize the RESIDUAL `v − centroid(cell)`
    * rather than the raw vector, which centers every cell's point cloud
    * on the origin and lets one shared codebook spend its ksub entries
    * on the (much tighter) residual distribution — the recall win that
    * makes IVFADC the standard production layout.
    *
    * Representation: rather than materializing residuals at search time,
    * each cell gets its codebook PRE-SHIFTED by its centroid —
    * `scb[cell][j][code] = centroid_j ⊕ rcb[j][code]` — so encode is the
    * plain L2 argmin against the OWN-cell table and reconstruction is a
    * direct lookup (no add in the hot path). The residual codebook uses
    * the same deterministic seeding as [[pqCodebooks]]: entry `code` is
    * the code-th corpus vector's residual w.r.t. its own assigned cell.
    * All arithmetic is float→double casts, one subtraction, one addition
    * — the same correctly-rounded IEEE ops in the same order as the
    * DuckDB mirror, so the shifted entries (and every code and score
    * downstream) are bit-identical across engines.
    *
    * Output: (cell, cbs) with `cbs[j][code] = svec` — nCells small rows,
    * broadcast everywhere it is consumed.
    */
  private[graft] def residualScb(emb: DataFrame, cells: DataFrame,
                                 nCells: Int, m: Int, ksub: Int,
                                 dim: Int): DataFrame = {
    require(dim % m == 0, s"dim ($dim) must be divisible by m ($m)")
    val sub = dim / m
    val centd = ivfCents(emb, nCells).select(col("cid"),
      transform(col("cvec"), x => x.cast("double")).as("cemb"))
    val rcb = cells.where(col("vec_id") < ksub)
      .join(broadcast(centd), col("cell") === col("cid"))
      .select(col("vec_id").cast("int").as("code"),
        explode(sequence(lit(0), lit(m - 1))).as("j"),
        col("embedding"), col("cemb"))
      .select(col("j"), col("code"),
        zip_with(slice(col("embedding"), col("j") * sub + 1, lit(sub)),
          slice(col("cemb"), col("j") * sub + 1, lit(sub)),
          (e, c) => e.cast("double") - c).as("rvec"))
    shiftedByCell(centd, rcb, sub)
  }

  /** centroid ⊕ residual-codebook → per-cell packed shifted tables
    * (cell, cbs) — shared by the seeded and Lloyd-trained residual
    * builders so the shift arithmetic (one double add per element, in
    * this order) cannot drift between them.
    */
  private def shiftedByCell(centd: DataFrame, rcb: DataFrame,
                            sub: Int): DataFrame =
    centd.crossJoin(broadcast(rcb))
      .select(col("cid").as("cell"), col("j"), col("code"),
        zip_with(slice(col("cemb"), col("j") * sub + 1, lit(sub)),
          col("rvec"), (c, r) => c + r).as("svec"))
      .groupBy("cell", "j")
      .agg(transform(sort_array(collect_list(struct(col("code"),
        col("svec")))), x => x.getField("svec")).as("cb"))
      .groupBy("cell")
      .agg(transform(sort_array(collect_list(struct(col("j"), col("cb")))),
        x => x.getField("cb")).as("cbs"))

  /** Per-cell norm LUTs over the shifted codebooks — the residual analog
    * of [[pqNormLut]]: `lutn[j][code] = dotL(svec, svec)`. Keyed by cell
    * (the shifted entries differ per cell), joined broadcast next to the
    * per-(query, cell) ADC dot table.
    */
  private[graft] def scbNormLuts(scbByCell: DataFrame): DataFrame =
    scbByCell.select(col("cell").as("lcell"), transform(col("cbs"), cbj =>
      transform(cbj, cb =>
        graft.expr.FixedPointDot(cb, cb, VectorOps.Scale))).as("lutn"))

  /** Residual-PQ encode: the same native [[graft.expr.PqEncode]] argmin,
    * against the vector's OWN cell's shifted table (a broadcast equi-join
    * on cell instead of [[pqEncode]]'s one-row crossJoin). Codes remain m
    * small ints — the resident index stays 8 B/vector; the per-cell
    * codebook adds nCells × m × ksub × sub doubles of broadcast state,
    * independent of corpus size.
    */
  private[graft] def pqResidualEncode(cells: DataFrame,
                                      scbByCell: DataFrame, m: Int,
                                      dim: Int): DataFrame =
    cells.join(broadcast(scbByCell), Seq("cell"))
      .where(size(col("cbs")) === m)
      .select(col("vec_id"), col("cell"),
        graft.expr.PqEncode(col("embedding"), col("cbs"), m, dim / m,
          VectorOps.Scale).as("codes"))

  /** Residual IVF-PQ top-k with multi-probe — IVFADC proper: nProbe
    * cells per query, candidates scored by the asymmetric ADC cosine
    * against their RESIDUAL-coded reconstruction. Because the shifted
    * tables differ per cell, the ADC dot table is per (query, probed
    * cell) — exactly FAISS's per-probe LUT build — and the norm LUT per
    * cell; both joins broadcast (queries × nProbe and nCells rows).
    * Corpus-side work is unchanged from [[ivfPqTopKProbed]]: the cell
    * equi-join over the codes-only index, linear in nProbe, never a
    * corpus shuffle. nProbe=1 is the single-cell IVFADC.
    */
  def ivfPqResidualTopKProbed(emb: DataFrame, queries: DataFrame,
                              nCells: Int, m: Int, ksub: Int, dim: Int,
                              k: Int, nProbe: Int): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val cells = ivfCells(emb, nCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scbC = residualScb(emb, cells, nCells, m, ksub, dim)
    Persist.handoff(
      residualProbedSearch(emb, cells, scbC, queries, nCells, m, dim, k,
        nProbe), cells)
  }

  /** The probed IVFADC search over a given per-cell shifted-codebook
    * table — shared by the seeded and Lloyd-trained residual variants so
    * the probe ranking, per-(query, cell) ADC build, and tie-breaks are
    * single-sourced.
    */
  private def residualProbedSearch(emb: DataFrame, cells: DataFrame,
                                   scbC: DataFrame, queries: DataFrame,
                                   nCells: Int, m: Int, dim: Int, k: Int,
                                   nProbe: Int): DataFrame = {
    val idx = pqResidualEncode(cells, scbC, m, dim)
    val cents = ivfCents(emb, nCells)
    val qemb = queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qvec"))
      .withColumn("qnrm", VectorOps.norm(col("qvec")))
    val cscored = qemb.crossJoin(broadcast(cents))
      .withColumn("ccos",
        VectorOps.cosineOf(VectorOps.dot(col("qvec"), col("cvec")),
          col("qnrm"), col("cnrm")))
    val wp = Window.partitionBy("q_id")
      .orderBy(col("ccos").desc, col("cid").asc)
    val probes = cscored.withColumn("rn", row_number().over(wp))
      .where(col("rn") <= nProbe)
      .select(col("q_id"), col("qvec"), col("qnrm"),
        col("cid").as("qcell"))
      .join(broadcast(scbC), col("qcell") === col("cell"))
      .withColumn("adc", graft.expr.PqAdcLut(col("qvec"), col("cbs"), m,
        dim / m, VectorOps.Scale))
      .drop("cbs", "cell")
      .join(broadcast(scbNormLuts(scbC)), col("qcell") === col("lcell"))
      .drop("lcell")
    val scored = idx.as("t").join(broadcast(probes),
        col("qcell") === col("t.cell") && col("q_id") =!= col("t.vec_id"))
      .select(col("q_id").as("query_id"), col("t.vec_id").as("vec_id"),
        adcCosine(col("codes"), col("adc"), col("lutn"),
          col("qnrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Lloyd-TRAINED residual codebooks, shifted per cell — the full
    * IVFADC training loop (FAISS `IndexIVFPQ::train`: the product
    * quantizer trains on RESIDUALS `v − centroid(cell)`): the
    * [[residualScb]] seed refined by `iters` rounds of assign (the
    * native [[graft.expr.PqEncode]] argmin against each vector's
    * OWN-cell shifted table — the same shifted-space comparison the
    * search makes, so train-time and search-time codes cannot disagree)
    * and update (per-element residual means through the 1e-7
    * fixed-point BIGINT sums — [[pqCodebooksTrained]]'s convention, so
    * entries are partition-order-independent and bit-identical to the
    * mirrored SQL loop). Empty clusters keep their previous entry.
    *
    * Per round: one nCells×m×ksub broadcast, one corpus scan (argmin
    * row-local after the broadcast cell join), one map-side-combinable
    * (j, code, i) shuffle of m·ksub·sub reduced rows — corpus-size-
    * independent, the same per-retrain profile as the raw trained PQ.
    */
  private[graft] def residualScbTrained(emb: DataFrame, cells: DataFrame,
                                        nCells: Int, m: Int, ksub: Int,
                                        dim: Int, iters: Int): DataFrame = {
    require(dim % m == 0, s"dim ($dim) must be divisible by m ($m)")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val sub = dim / m
    val spark = emb.sparkSession
    import spark.implicits._
    // MATERIALIZED rounds (the Pca.stepArrays idiom): the codebook and the
    // coarse centroids are MODEL STATE — nCells×dim + m×ksub×sub doubles,
    // corpus-size-independent — so each Lloyd round collects its refined
    // entries to the driver and feeds the next round a sorted local
    // relation. Every round's assign+reduce plan then has IDENTICAL
    // generated code (local-relation data is data, not codegen input) and
    // Spark's codegen cache compiles the round once; the previous
    // nested-foldLeft form re-nested round k−1's whole plan inside round
    // k's, which the r12 artifact measured at 246 generated classes /
    // 7.1 s Janino time for iters=2 — the suite's worst query, and the
    // cost was plan-compilation count, not data. Values are bit-identical
    // to the fold form: the 1e-7 fixed-point BIGINT means are partition-
    // order-independent, doubles round-trip the driver exactly, and the
    // empty-cluster coalesce becomes a driver-side map lookup.
    val centdRows = ivfCents(emb, nCells)
      .select(col("cid"),
        transform(col("cvec"), x => x.cast("double")).as("cemb"))
      .orderBy("cid").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    def centdLocal: DataFrame = centdRows.toSeq.toDF("cid", "cemb")
    def rcbLocal(rows: Seq[(Int, Int, Seq[Double])]): DataFrame =
      rows.toDF("j", "code", "rvec")
    // seed: residuals of the first ksub vectors (one double subtract per
    // element, the residualScb order)
    var rcb: Seq[(Int, Int, Seq[Double])] =
      cells.join(broadcast(centdLocal), col("cell") === col("cid"))
        .where(col("vec_id") < ksub)
        .select(col("vec_id"),
          zip_with(col("embedding"), col("cemb"),
            (e, c) => e.cast("double") - c).as("remb"))
        .select(col("vec_id"), col("remb"),
          explode(sequence(lit(0), lit(m - 1))).as("j"))
        .select(col("j"), col("vec_id").cast("int").as("code"),
          slice(col("remb"), col("j") * sub + 1, lit(sub)).as("rvec"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        .sortBy(t => (t._1, t._2)).toSeq
    for (_ <- 1 to iters) {
      val scbC = shiftedByCell(centdLocal, rcbLocal(rcb), sub)
      val means = cells.join(broadcast(scbC), Seq("cell"))
        .where(size(col("cbs")) === m)
        .join(broadcast(centdLocal), col("cell") === col("cid"))
        .select(
          zip_with(col("embedding"), col("cemb"),
            (e, c) => e.cast("double") - c).as("remb"),
          posexplode(graft.expr.PqEncode(col("embedding"), col("cbs"), m,
            sub, VectorOps.Scale)).as(Seq("j", "code")))
        .select(col("j"), col("code"),
          posexplode(transform(
            slice(col("remb"), col("j") * sub + 1, lit(sub)),
            x => round(x * 1e7).cast("long")))
            .as(Seq("i", "s")))
        .groupBy("j", "code", "i")
        .agg(sum(col("s")).as("s"), count(lit(1)).as("n"))
        .groupBy("j", "code")
        .agg(expr("transform(array_sort(collect_list(struct(i, s, n))), " +
          "x -> CAST(x.s AS DOUBLE)/1e7/x.n)").as("mvec"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2))).toMap
      // empty clusters keep their previous entry (the coalesce rule)
      rcb = rcb.map { case (j, code, rvec) =>
        (j, code, means.getOrElse((j, code), rvec)) }
    }
    shiftedByCell(centdLocal, rcbLocal(rcb), sub)
  }

  /** [[ivfPqResidualTopKProbed]] with the Lloyd-trained residual
    * codebooks — the complete production IVFADC: trained coarse-residual
    * coding underneath the probed search, at unchanged index memory.
    */
  def ivfPqResidualTrainedTopKProbed(emb: DataFrame, queries: DataFrame,
                                     nCells: Int, m: Int, ksub: Int,
                                     dim: Int, k: Int, nProbe: Int,
                                     iters: Int): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val cells = ivfCells(emb, nCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scbC = residualScbTrained(emb, cells, nCells, m, ksub, dim, iters)
    Persist.handoff(
      residualProbedSearch(emb, cells, scbC, queries, nCells, m, dim, k,
        nProbe), cells)
  }

  /** Residual IVF-PQ, probed AND full-precision reranked — IVFADC in its
    * production configuration: the residual-coded shortlist (rerank-deep,
    * from the probed union) is re-scored by TRUE cosine against the cold
    * float corpus via one broadcast equi-join on vec_id. The same
    * two-stage contract as [[ivfPqRerankTopKProbed]] with the
    * residual-quality shortlist underneath it.
    */
  def ivfPqResidualRerankTopKProbed(emb: DataFrame, queries: DataFrame,
                                    nCells: Int, m: Int, ksub: Int,
                                    dim: Int, k: Int, rerank: Int,
                                    nProbe: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val cells = ivfCells(emb, nCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scbC = residualScb(emb, cells, nCells, m, ksub, dim)
    val idx = pqResidualEncode(cells, scbC, m, dim)
    val cents = ivfCents(emb, nCells)
    val qemb = queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qvec"))
      .withColumn("qnrm", VectorOps.norm(col("qvec")))
    val cscored = qemb.crossJoin(broadcast(cents))
      .withColumn("ccos",
        VectorOps.cosineOf(VectorOps.dot(col("qvec"), col("cvec")),
          col("qnrm"), col("cnrm")))
    val wp = Window.partitionBy("q_id")
      .orderBy(col("ccos").desc, col("cid").asc)
    val probes = cscored.withColumn("rn", row_number().over(wp))
      .where(col("rn") <= nProbe)
      .select(col("q_id"), col("qvec"), col("qnrm"),
        col("cid").as("qcell"))
      .join(broadcast(scbC), col("qcell") === col("cell"))
      .withColumn("adc", graft.expr.PqAdcLut(col("qvec"), col("cbs"), m,
        dim / m, VectorOps.Scale))
      .drop("cbs", "cell")
      .join(broadcast(scbNormLuts(scbC)), col("qcell") === col("lcell"))
      .drop("lcell")
    val qscored = idx.as("t").join(broadcast(probes),
        col("qcell") === col("t.cell") && col("q_id") =!= col("t.vec_id"))
      .select(col("q_id"), col("qvec"), col("qnrm"),
        col("t.vec_id").as("vec_id"),
        adcCosine(col("codes"), col("adc"), col("lutn"),
          col("qnrm")).as("qcos"))
    val ws = Window.partitionBy("q_id")
      .orderBy(col("qcos").desc, col("vec_id").asc)
    val shortlist = qscored.withColumn("srn", row_number().over(ws))
      .where(col("srn") <= rerank)
      .select(col("q_id"), col("qvec"), col("qnrm"), col("vec_id"))
    val full = emb.select(col("vec_id").as("t_id"),
      col("embedding").as("tvec"),
      VectorOps.norm(col("embedding")).as("tnrm"))
    val rescored = full.join(broadcast(shortlist),
        col("t_id") === col("vec_id"))
      .select(col("q_id").as("query_id"), col("vec_id"),
        VectorOps.cosineOf(VectorOps.dot(col("qvec"), col("tvec")),
          col("qnrm"), col("tnrm")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val out = rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
    Persist.handoff(out, cells)
  }

  /** Shared residual-PQ oracle prefix: `assigned` + double centroids
    * (`centd`), residual codebooks (`rcb`), per-cell shifted tables
    * (`scb`), integer-space own-cell argmin codes (`enc`) and the
    * reconstructed index (`pidx`) — the DuckDB mirror of
    * [[residualScb]] + [[pqResidualEncode]], single-sourced for both
    * residual oracles.
    */
  private def pqResidualIndexCteSql(nCells: Int, m: Int, ksub: Int,
                                    dim: Int): String = {
    val sub = dim / m
    def dotL(x: String, y: String): String =
      s"CAST(list_sum([CAST(ROUND(CAST($x AS DOUBLE)*CAST($y AS DOUBLE)*1e15, 0) AS BIGINT) " +
        s"for i in range(1, ${sub + 1})]) AS BIGINT)"
    val vi = s"a.embedding[s.j*$sub + i]"
    val svi = "s.svec[i]"
    s"""${assignedCteSql(nCells, dim)},
       |centd AS (SELECT cid,
       |            [CAST(embedding[i] AS DOUBLE)
       |             for i in range(1, ${dim + 1})] AS cemb
       |          FROM cents),
       |rcb AS (SELECT js.j, CAST(a.vec_id AS INTEGER) AS code,
       |          [CAST(a.embedding[js.j*$sub + i] AS DOUBLE) -
       |             c.cemb[js.j*$sub + i] for i in range(1, ${sub + 1})] AS rvec
       |        FROM assigned a JOIN centd c ON c.cid = a.cell
       |        CROSS JOIN (SELECT unnest(range(0, $m)) AS j) js
       |        WHERE a.vec_id < $ksub),
       |scb AS (SELECT c.cid AS cell, r.j, r.code,
       |          [c.cemb[r.j*$sub + i] + r.rvec[i]
       |           for i in range(1, ${sub + 1})] AS svec
       |        FROM centd c CROSS JOIN rcb r),
       |encsc AS (
       |  SELECT a.vec_id, s.cell, s.j, s.code, s.svec,
       |         ${dotL(vi, vi)} + ${dotL(svi, svi)} - 2*${dotL(vi, svi)} AS d
       |  FROM assigned a JOIN scb s ON s.cell = a.cell),
       |enc AS (SELECT vec_id, cell, j, svec FROM (
       |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
       |            ORDER BY d, code) AS rn FROM encsc)
       |        WHERE rn = 1),
       |pidx AS (SELECT vec_id, cell, flatten(list(svec ORDER BY j)) AS recon
       |         FROM enc GROUP BY vec_id, cell)""".stripMargin
  }

  /** The trained-residual index prefix: [[pqResidualIndexCteSql]]'s
    * structure with the Lloyd loop unrolled CTE-per-round over
    * RESIDUALS — assignment against the per-cell SHIFTED tables (the
    * same shifted-space comparison the search makes), update through
    * the 1e-7 fixed-point sums of residual elements.
    */
  private def pqResidualTrainedIndexCteSql(nCells: Int, m: Int, ksub: Int,
                                           dim: Int, iters: Int): String = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val sub = dim / m
    def dotL(x: String, y: String): String =
      s"CAST(list_sum([CAST(ROUND(CAST($x AS DOUBLE)*CAST($y AS DOUBLE)*1e15, 0) AS BIGINT) " +
        s"for i in range(1, ${sub + 1})]) AS BIGINT)"
    val vi = s"a.embedding[s.j*$sub + i]"
    val svi = "s.svec[i]"
    val d = s"${dotL(vi, vi)} + ${dotL(svi, svi)} - 2*${dotL(vi, svi)}"
    def scbOf(rcbCte: String): String =
      s"""(SELECT c.cid AS cell, r.j, r.code,
         |   [c.cemb[r.j*$sub + i] + r.rvec[i] for i in range(1, ${sub + 1})] AS svec
         | FROM centd c CROSS JOIN $rcbCte r)""".stripMargin
    def roundSql(t: Int): String =
      s"""scb$t AS (SELECT * FROM ${scbOf(s"rcb${t - 1}")}),
         |es$t AS (SELECT a.vec_id, s.j, s.code, $d AS d
         |    FROM assigned a JOIN scb$t s ON s.cell = a.cell),
         |en$t AS (SELECT vec_id, j, code FROM (
         |      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
         |        ORDER BY d, code) AS rn FROM es$t) WHERE rn = 1),
         |sm$t AS (SELECT e.j, e.code, di.i,
         |      SUM(CAST(ROUND(r.remb[e.j*$sub + di.i]*1e7, 0) AS BIGINT)) AS s,
         |      COUNT(*) AS n
         |    FROM en$t e JOIN res r USING (vec_id)
         |    CROSS JOIN (SELECT unnest(range(1, ${sub + 1})) AS i) di
         |    GROUP BY 1, 2, 3),
         |mn$t AS (SELECT j, code, list(CAST(s AS DOUBLE)/1e7/n ORDER BY i) AS mvec
         |    FROM sm$t GROUP BY 1, 2),
         |rcb$t AS (SELECT p.j, p.code, COALESCE(m.mvec, p.rvec) AS rvec
         |    FROM rcb${t - 1} p LEFT JOIN mn$t m USING (j, code))"""
        .stripMargin
    val rounds = (1 to iters).map(roundSql).mkString(",\n")
    s"""${assignedCteSql(nCells, dim)},
       |centd AS (SELECT cid,
       |            [CAST(embedding[i] AS DOUBLE)
       |             for i in range(1, ${dim + 1})] AS cemb
       |          FROM cents),
       |res AS (SELECT a.vec_id, a.cell,
       |          [CAST(a.embedding[i] AS DOUBLE) - c.cemb[i]
       |           for i in range(1, ${dim + 1})] AS remb
       |        FROM assigned a JOIN centd c ON c.cid = a.cell),
       |rcb0 AS (SELECT js.j, CAST(r.vec_id AS INTEGER) AS code,
       |           [r.remb[js.j*$sub + i] for i in range(1, ${sub + 1})] AS rvec
       |         FROM res r
       |         CROSS JOIN (SELECT unnest(range(0, $m)) AS j) js
       |         WHERE r.vec_id < $ksub),
       |$rounds,
       |scbF AS (SELECT * FROM ${scbOf(s"rcb$iters")}),
       |encsc AS (
       |  SELECT a.vec_id, s.cell, s.j, s.code, s.svec, $d AS d
       |  FROM assigned a JOIN scbF s ON s.cell = a.cell),
       |enc AS (SELECT vec_id, cell, j, svec FROM (
       |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
       |            ORDER BY d, code) AS rn FROM encsc)
       |        WHERE rn = 1),
       |pidx AS (SELECT vec_id, cell, flatten(list(svec ORDER BY j)) AS recon
       |         FROM enc GROUP BY vec_id, cell)""".stripMargin
  }

  /** DuckDB mirror of [[ivfPqResidualTrainedTopKProbed]]: the trained
    * residual prefix + the probed-qcells stage + reconstruction cosine.
    */
  def ivfPqResidualTrainedTopKProbedSql(nCells: Int, m: Int, ksub: Int,
                                        dim: Int, k: Int, nProbe: Int,
                                        queryIds: String,
                                        iters: Int): String = {
    val cos = VectorOps.cosineSql("e.embedding", "c.embedding", dim)
    s"""WITH ${pqResidualTrainedIndexCteSql(nCells, m, ksub, dim, iters)},
       |qcells AS (
       |  SELECT q_id, qvec, qcell FROM (
       |    SELECT e.vec_id AS q_id, e.embedding AS qvec, c.cid AS qcell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY $cos DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |    WHERE e.vec_id IN ($queryIds))
       |  WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT q.q_id AS query_id, t.vec_id AS vec_id,
       |         ${VectorOps.cosineSql("q.qvec", "t.recon", dim)} AS cos
       |  FROM pidx t JOIN qcells q
       |    ON q.qcell = t.cell AND q.q_id <> t.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB mirror of [[ivfPqResidualTopKProbed]]: the residual index
    * prefix with the probed-qcells stage and reconstruction cosine.
    */
  def ivfPqResidualTopKProbedSql(nCells: Int, m: Int, ksub: Int, dim: Int,
                                 k: Int, nProbe: Int,
                                 queryIds: String): String = {
    val cos = VectorOps.cosineSql("e.embedding", "c.embedding", dim)
    s"""WITH ${pqResidualIndexCteSql(nCells, m, ksub, dim)},
       |qcells AS (
       |  SELECT q_id, qvec, qcell FROM (
       |    SELECT e.vec_id AS q_id, e.embedding AS qvec, c.cid AS qcell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY $cos DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |    WHERE e.vec_id IN ($queryIds))
       |  WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT q.q_id AS query_id, t.vec_id AS vec_id,
       |         ${VectorOps.cosineSql("q.qvec", "t.recon", dim)} AS cos
       |  FROM pidx t JOIN qcells q
       |    ON q.qcell = t.cell AND q.q_id <> t.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB mirror of [[ivfPqResidualRerankTopKProbed]]: the residual
    * prefix + probed qcells + shortlist/rescore tail.
    */
  def ivfPqResidualRerankTopKProbedSql(nCells: Int, m: Int, ksub: Int,
                                       dim: Int, k: Int, rerank: Int,
                                       nProbe: Int,
                                       queryIds: String): String = {
    val cos = VectorOps.cosineSql("e.embedding", "c.embedding", dim)
    s"""WITH ${pqResidualIndexCteSql(nCells, m, ksub, dim)},
       |qcells AS (
       |  SELECT q_id, qvec, qcell FROM (
       |    SELECT e.vec_id AS q_id, e.embedding AS qvec, c.cid AS qcell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY $cos DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c
       |    WHERE e.vec_id IN ($queryIds))
       |  WHERE rn <= $nProbe),
       |qscored AS (
       |  SELECT q.q_id, q.qvec, t.vec_id,
       |         ${VectorOps.cosineSql("q.qvec", "t.recon", dim)} AS qcos
       |  FROM pidx t JOIN qcells q
       |    ON q.qcell = t.cell AND q.q_id <> t.vec_id),
       |shortlist AS (
       |  SELECT q_id, qvec, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY qcos DESC, vec_id) AS srn FROM qscored)
       |  WHERE srn <= $rerank),
       |rescored AS (
       |  SELECT s.q_id AS query_id, s.vec_id,
       |         ${VectorOps.cosineSql("s.qvec", "e.embedding", dim)} AS cos
       |  FROM shortlist s JOIN embeddings e ON e.vec_id = s.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM rescored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  def lshTopKSql(bits: Int, dim: Int, k: Int, querySel: String): String =
    s"""WITH b AS (SELECT vec_id, embedding,
       |           ${VectorOps.lshBucketSql("embedding", bits, dim)} AS bkt
       |           FROM embeddings),
       |q AS (SELECT * FROM b WHERE vec_id IN ($querySel)),
       |scored AS (
       |  SELECT q.vec_id AS query_id, t.vec_id AS vec_id,
       |         ${VectorOps.cosineSql("q.embedding", "t.embedding", dim)} AS cos
       |  FROM b t JOIN q ON q.bkt = t.bkt AND q.vec_id <> t.vec_id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |             (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
}
