package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.{Similarity, VectorOps}

/** Online ANN retrieval: a QUERY-EMBEDDING stream searched against the
  * static IVF index of a corpus — the similarity-search analog of
  * [[DocStream.nearDupAgainstIndex]]'s posture (the pairwise side is a
  * batch-refreshed materialized artifact, never stream-stream).
  *
  * Entirely STATELESS on the stream side. The index packs one row per
  * IVF cell (the cell's members as an array), so a query's whole search
  * is: one row-local centroid argmax (an `aggregate` fold over the
  * broadcast centroid array — nCells entries), ONE equi-join on the cell
  * id, then score + sort + slice INSIDE the joined row. No per-query
  * state, no window, no watermark; results stream out as queries arrive.
  * Every numeric step reuses the batch kernels ([[VectorOps.dot]]'s
  * fixed-point dot, the same cosine), and the tie-breaks (centroid id on
  * the assignment argmax; (cos DESC, vec_id ASC) on the ranking) are the
  * batch [[Similarity.ivfTopK]] orders, so stream and batch agree
  * bit-for-bit on the same (corpus, query) — property-tested
  * (SimStreamSpec, ZeroVectorParitySpec) and gate-verified against the
  * batch DuckDB oracle. The shared ordering/scoring conventions live in
  * the private helpers below so the three kernels (single-cell,
  * multi-probe, quantized) cannot drift apart.
  *
  * Scale note: a packed cell row holds ~corpus/nCells vectors; nCells
  * grows with the corpus (the usual √n rule), keeping cell rows bounded
  * while the cell id stays the partition key of the inverted-file
  * layout. A corpus whose cells outgrow a row should probe with the
  * exploded-index + windowed-top-k form instead; at that size the
  * per-query candidate state, not this plan, is the limiting design.
  */
object SimStream {

  /** The packed search index: (cell, cands: array<struct<vec_id,
    * embedding, nrm>>) — members ordered by vec_id — plus the one-row
    * centroid array (cid-ordered). Both are batch artifacts; persist and
    * refresh them with the corpus.
    */
  def ivfIndex(emb: DataFrame, nCells: Int): (DataFrame, DataFrame) = {
    val packed = Similarity.ivfCells(emb, nCells)
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("embedding"), col("nrm")))).as("cands"))
    (packed, centsRow(emb, nCells))
  }

  /** The scalar-quantized packed index: (cell, cands:
    * array<struct<vec_id, lo, step, code, dnrm>>) — int8 codes instead of
    * float32 embeddings, 4× less resident memory, which is the binding
    * constraint for the ALWAYS-LOADED streaming index (the batch engine
    * can spill its index; the online path cannot). Same one-row centroid
    * array as [[ivfIndex]].
    */
  def sq8Index(emb: DataFrame, nCells: Int): (DataFrame, DataFrame) = {
    val packed = Similarity.sq8Quantize(Similarity.ivfCells(emb, nCells))
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("lo"), col("step"), col("code"),
          col("dnrm")))).as("cands"))
    (packed, centsRow(emb, nCells))
  }

  private def centsRow(emb: DataFrame, nCells: Int): DataFrame =
    Similarity.centsPacked(Similarity.ivfCents(emb, nCells))

  /** The product-quantized packed index: (cell, cands:
    * array<struct<vec_id, codes>>) — m SMALL integers per member, the
    * bottom rung of the resident-memory ladder (32× less than float32 at
    * dim=64/m=8, 8× less than [[sq8Index]]'s int8) — plus the one-row
    * centroid array and the one-row packed codebook array the scoring
    * reconstruction folds over. All three are batch artifacts; persist
    * and refresh them with the corpus.
    */
  def pqIndex(emb: DataFrame, nCells: Int, m: Int, ksub: Int,
              dim: Int): (DataFrame, DataFrame, DataFrame) = {
    val cbsRow = Similarity.pqPacked(Similarity.pqCodebooks(emb, m, ksub, dim))
    val packed = Similarity.pqEncode(Similarity.ivfCells(emb, nCells),
        cbsRow, m, dim)
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("codes")))).as("cands"))
    (packed, centsRow(emb, nCells), cbsRow)
  }

  /** Incremental index refresh: fold a batch of NEWLY-ASSIGNED vectors
    * (rows from [[Similarity.ivfAssign]] against the index's OWN frozen
    * centroid table) into the packed index — union each cell's members
    * and restore the vec_id order the row-local search relies on. A
    * full-outer merge, so both brand-new cells (no base row) and
    * untouched cells (no delta row) come through; the result is
    * bit-identical to repacking the whole corpus against the same
    * centroids (IvfAppendSpec). This is the refresh path a production
    * index runs between coarse-quantizer retrains: one shuffle on the
    * cell id per refresh batch, never a recluster of the corpus.
    */
  def ivfIndexAppend(packed: DataFrame, assigned: DataFrame): DataFrame =
    mergePacked(packed, assigned.groupBy(col("cell"))
      .agg(collect_list(
        struct(col("vec_id"), col("embedding"), col("nrm"))).as("dcands")))

  /** [[ivfIndexAppend]] for the product-quantized index: PQ-encode the
    * newly-assigned batch against the FROZEN codebook row (codes depend
    * on nothing but the vector and the codebooks, so the delta's code
    * words are bit-identical to what a full re-encode would produce) and
    * fold it in with the same full-outer cell merge. The codes-only
    * resident artifact gets the same append-only refresh cadence as the
    * float index (PqAppendSpec: append ≡ rebuild; search
    * parity over the appended index); codebooks retrain on the
    * coarse-quantizer cadence, not per batch.
    */
  def pqIndexAppend(packed: DataFrame, assigned: DataFrame,
                    cbsRow: DataFrame, m: Int, dim: Int): DataFrame =
    mergePacked(packed, Similarity.pqEncode(assigned, cbsRow, m, dim)
      .groupBy(col("cell"))
      .agg(collect_list(struct(col("vec_id"), col("codes"))).as("dcands")))

  /** [[pqIndexAppend]] for the RESIDUAL (IVFADC) index: the delta
    * encodes against the FROZEN per-cell shifted codebooks (codes depend
    * only on the vector and its own cell's table, so the delta's code
    * words are bit-identical to a full re-encode's), then the same
    * full-outer cell merge. Shifted codebooks — like the raw PQ
    * codebooks — retrain on the coarse-quantizer cadence, not per batch.
    */
  def residualPqIndexAppend(packed: DataFrame, assigned: DataFrame,
                            scbByCell: DataFrame, m: Int,
                            dim: Int): DataFrame =
    mergePacked(packed,
      Similarity.pqResidualEncode(assigned, scbByCell, m, dim)
        .groupBy(col("cell"))
        .agg(collect_list(struct(col("vec_id"), col("codes")))
          .as("dcands")))

  /** Full-outer keyed merge of a packed index with a per-cell delta:
    * union each cell's members and restore the vec_id order the
    * row-local search relies on; brand-new cells (no base row) and
    * untouched cells (no delta row) both come through. One shuffle on
    * the cell id — the index partition key — per refresh batch.
    */
  private def mergePacked(packed: DataFrame, delta: DataFrame): DataFrame =
    packed.join(delta, Seq("cell"), "full_outer")
      .select(col("cell"),
        sort_array(when(col("cands").isNull, col("dcands"))
          .when(col("dcands").isNull, col("cands"))
          .otherwise(concat(col("cands"), col("dcands")))).as("cands"))

  // ------------- shared row-local kernel pieces (single-sourced so the
  // batch-parity conventions — tie-breaks AND NaN placement — cannot
  // drift between the single-cell, multi-probe and quantized kernels) --

  /** Two-field sort key matching the batch `ORDER BY score DESC, id ASC`
    * window INCLUDING its NaN placement: Spark window ordering treats
    * NaN as the LARGEST double, so under DESC a NaN score ranks FIRST —
    * but plain negation would send it LAST in the ascending
    * `array_sort` (NaN sorts last there). The leading flag (0 for NaN,
    * 1 otherwise) reproduces NaN-first WITHOUT collapsing NaN onto −∞ —
    * a +Infinity score (key (1, −∞)) stays strictly after every NaN
    * (key (0, 0)), exactly the window's NaN > +Inf order; the id field
    * after the key breaks ties like the batch window (struct ordering
    * compares fields left to right, recursing into this nested struct).
    * NaN scores arise only from zero-norm vectors (0/0 cosines) —
    * ZeroVectorParitySpec pins the equivalence.
    */
  private def descKey(s: Column): Column =
    struct(when(isnan(s), 0).otherwise(1).as("nn"),
      when(isnan(s), lit(0d)).otherwise(-s).as("ns"))

  /** (queries × broadcast centroid row) with qnrm and the per-centroid
    * scores computed ONCE into `scents` via the single-sourced
    * [[Similarity.centScores]] (Catalyst does not CSE inside lambda
    * bodies, so scoring in a dedicated transform() means each centroid
    * pays the O(dim) dot kernel once — an inline fold would pay it
    * twice per step, measured ~2× on the kernel-bound portion).
    */
  private def centScored(queries: DataFrame, cents: DataFrame): DataFrame =
    queries
      .withColumn("qnrm", VectorOps.norm(col("embedding")))
      .crossJoin(broadcast(cents))
      .withColumn("scents", Similarity.centScores(
        col("embedding"), col("qnrm"), col("cents")))
      .drop("cents")

  /** row-local centroid argmax — the single-sourced batch/stream kernel */
  private def bestCid(scents: Column): Column = Similarity.bestCid(scents)

  /** Score the joined row's candidates (self excluded), rank by the
    * batch (score DESC, vec_id ASC) order via [[descKey]], keep k, and
    * explode to (query_id, vec_id, cos, rank) rows. Two-pass: score once
    * per candidate, then derive the sort key from the already-computed
    * value (inlining the score twice in one struct would run the dot
    * kernel twice per candidate).
    */
  private def rankTopK(joined: DataFrame, cands: Column,
                       score: Column => Column, k: Int,
                       passthrough: Seq[String]): DataFrame = {
    val scored0 = transform(
      filter(cands, c => c.getField("vec_id") =!= col("vec_id")),
      c => struct(score(c).as("cos"), c.getField("vec_id").as("vid")))
    val scored = transform(scored0,
      s => struct(descKey(s.getField("cos")).as("nc"),
        s.getField("vid").as("vid"), s.getField("cos").as("cos")))
    val top = slice(array_sort(scored), 1, k)
    joined
      .select(passthrough.map(col) ++
        Seq(col("vec_id").as("query_id"), posexplode(top)): _*)
      .select(passthrough.map(col) ++ Seq(col("query_id"),
        col("col.vid").as("vec_id"), col("col.cos").as("cos"),
        (col("pos") + 1).cast("int").as("rank")): _*)
  }

  private def passthroughOf(queries: DataFrame): Seq[String] =
    queries.columns.filterNot(Set("vec_id", "embedding")).toSeq

  // ------------------------------------------------------- the kernels

  // member-scoring lambdas shared by the single-cell and probed kernels:
  // full-precision (embedding, nrm members) and asymmetric quantized
  // (code/lo/step/dnrm members, reconstructed via the SAME dequantization
  // the batch search uses) — both TOTAL cosines (VectorOps.cosineOf)
  private def floatScore(c: Column): Column =
    VectorOps.cosineOf(
      VectorOps.dot(col("embedding"), c.getField("embedding")),
      col("qnrm"), c.getField("nrm"))
  private def sq8Score(c: Column): Column =
    VectorOps.cosineOf(
      VectorOps.dot(col("embedding"), VectorOps.sq8Dequant(
        c.getField("code"), c.getField("lo"), c.getField("step"))),
      col("qnrm"), c.getField("dnrm"))
  // asymmetric PQ cosine via ADC tables: the batch ivfPqTopK kernel —
  // needs the per-query dot table (`adc`) and shared norm table (`lutn`)
  // on the joined frame, which Similarity.withAdcTables broadcasts onto
  // the query side before the search; bit-identical to the composed
  // reconstruction scoring (PqAdcSpec), 2·m long lookups per candidate
  private def adcScore(c: Column): Column =
    Similarity.adcCosine(c.getField("codes"), col("adc"), col("lutn"),
      col("qnrm"))

  /** single-cell search: argmax-assigned cell, one equi-join, rank */
  private def singleSearch(queries: DataFrame, packed: DataFrame,
                           cents: DataFrame, k: Int,
                           score: Column => Column): DataFrame = {
    val assigned = centScored(queries, cents)
      .withColumn("qcell", bestCid(col("scents"))).drop("scents")
    val joined = assigned.join(packed, col("qcell") === col("cell"))
    rankTopK(joined, col("cands"), score, k, passthroughOf(queries))
  }

  /** multi-probe search: top-nProbe cells row-locally (the batch probe
    * ranking (ccos DESC, cid ASC) incl. NaN placement, see [[descKey]]),
    * one LEFT equi-join per probe — a probe whose cell has no packed row
    * contributes null, filtered out of the row-local concat; `get`
    * (0-based) rather than `element_at` because when nProbe exceeds the
    * CENTROID count pcells is short, and under ANSI mode (Spark 4
    * default) element_at throws on the out-of-bounds slot where get
    * yields null — a null probe key matches nothing, which is the wanted
    * semantics. nProbe joins instead of a per-query explode + windowed
    * re-aggregation keeps the plan free of stateful operators.
    */
  private def probedSearch(queries: DataFrame, packed: DataFrame,
                           cents: DataFrame, k: Int, nProbe: Int,
                           score: Column => Column): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val probeCells = transform(
      slice(array_sort(transform(col("scents"),
        s => struct(descKey(s.getField("s")).as("ns"),
          s.getField("cid").as("cid")))),
        1, nProbe),
      x => x.getField("cid"))
    val assigned = centScored(queries, cents)
      .withColumn("pcells", probeCells).drop("scents")
    val joined = (0 until nProbe).foldLeft(assigned) { (df, i) =>
      df.join(packed.select(col("cell").as(s"cell$i"),
          col("cands").as(s"cands$i")),
        get(col("pcells"), lit(i)) === col(s"cell$i"), "left_outer")
        .drop(s"cell$i")
    }
    val allCands = flatten(filter(
      array((0 until nProbe).map(i => col(s"cands$i")): _*),
      a => a.isNotNull))
    rankTopK(joined, allCands, score, k, passthroughOf(queries))
  }

  /** Top-k cosine neighbors per query against the packed index.
    *
    * @param queries streaming frame (vec_id, embedding) — extra columns
    *                (e.g. an event time) pass through untouched
    * @return one row per (query, neighbor): (query_id, vec_id, cos, rank)
    *         plus the query's passthrough columns
    */
  def topKAgainstIvfIndex(queries: DataFrame, packed: DataFrame,
                          cents: DataFrame, k: Int): DataFrame =
    singleSearch(queries, packed, cents, k, floatScore)

  /** Online reciprocal-rank fusion — hybrid retrieval as ONE stateless
    * row: each arriving query joins its IVF cell row AND its LSH bucket
    * row (two stream-static equi-joins on the same stream — never a
    * stream-stream join of two result streams, which would need
    * watermarked time bounds), ranks both candidate lists in-row with
    * the shared [[descKey]] conventions, fuses by
    * `Σ round(1/(60+rank), 9)` and emits the top `k` by (rrf DESC,
    * vec_id). The per-list ranking is the batch [[Similarity.ivfTopK]]
    * / [[Similarity.lshTopK]] order, and double addition of ≤ 2 terms
    * is commutative, so the output ≡ the batch
    * [[Similarity.rrfFuse]] of those two lists — the batch SQL is the
    * oracle verbatim.
    */
  def rrfAgainstIndexes(queries: DataFrame, packedIvf: DataFrame,
                        cents: DataFrame, packedLsh: DataFrame,
                        bits: Int, dim: Int, kEach: Int,
                        k: Int): DataFrame = {
    val q = centScored(queries, cents)
      .withColumn("cell", bestCid(col("scents"))).drop("scents")
      .withColumn("bkt", VectorOps.lshBucket(col("embedding"), bits, dim))
    // LEFT joins with coalesce-to-empty: a query whose LSH sign bucket
    // (or IVF cell) has no packed row must still rank the OTHER list —
    // the batch rrfFuse is a full outer over the two lists, and an
    // inner join here would drop such a query entirely. pairs()
    // tolerates empty lists, so the fused path needs no other change.
    def emptyLike(packed: DataFrame): Column =
      array().cast(packed.schema("cands").dataType)
    val joined = q
      .join(packedIvf.withColumnRenamed("cands", "ca"), Seq("cell"),
        "left_outer")
      .join(packedLsh.withColumnRenamed("cands", "cb"), Seq("bkt"),
        "left_outer")
      .withColumn("ca", coalesce(col("ca"), emptyLike(packedIvf)))
      .withColumn("cb", coalesce(col("cb"), emptyLike(packedLsh)))
    // top-kEach of one candidate list as (vid, term) pairs, term =
    // round(1/(60 + rank), 9) — the RRF contribution
    def pairs(cands: Column): Column = {
      val scored0 = transform(
        filter(cands, c => c.getField("vec_id") =!= col("vec_id")),
        c => struct(
          VectorOps.cosineOf(
            VectorOps.dot(col("embedding"), c.getField("embedding")),
            col("qnrm"), c.getField("nrm")).as("cos"),
          c.getField("vec_id").as("vid")))
      val keyed = transform(scored0, s =>
        struct(descKey(s.getField("cos")).as("nc"),
          s.getField("vid").as("vid")))
      val top = slice(array_sort(keyed), 1, kEach)
      transform(top, (x, i) => struct(x.getField("vid").as("vid"),
        round(lit(1.0) / (lit(60) + i + 1), 9).as("term")))
    }
    val fused = joined
      .withColumn("pall", array_sort(concat(pairs(col("ca")),
        pairs(col("cb")))))
    // vid runs in the sorted union are 1 or 2 long (each list is
    // distinct); sum the run's terms — the batch full-outer coalesce
    val vids = transform(col("pall"), x => x.getField("vid"))
    val n = size(col("pall"))
    val ends = filter(sequence(lit(1), n), p =>
      coalesce(get(vids, p) =!= element_at(vids, p), lit(true)))
    val starts = concat(array(lit(0)),
      slice(col("ends"), lit(1), size(col("ends")) - 1))
    def termAt(p: Column): Column =
      element_at(col("pall"), p).getField("term")
    val cands = zip_with(col("ends"), starts, (e, s) =>
      struct(element_at(vids, e).as("vid"),
        when(e - s === 1, termAt(e))
          .otherwise(termAt(e) + termAt(e - lit(1))).as("rrf")))
    val ranked = slice(array_sort(transform(col("cands"), c =>
      struct(descKey(c.getField("rrf")).as("nc"),
        c.getField("vid").as("vid"), c.getField("rrf").as("rrf")))),
      1, k)
    fused
      .where(n > 0)
      .withColumn("ends", ends)
      .withColumn("cands", cands)
      .select(col("vec_id").as("query_id"), posexplode(ranked))
      .select(col("query_id"), col("col.vid").as("vec_id"),
        col("col.rrf").as("rrf"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** The packed LSH bucket index: (bkt, cands) — the hyperplane-sign
    * analog of [[ivfIndex]] (no centroid table; the bucket id is
    * computable row-locally from the query itself).
    */
  def lshIndex(emb: DataFrame, bits: Int, dim: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
        VectorOps.lshBucket(col("embedding"), bits, dim).as("bkt"),
        VectorOps.norm(col("embedding")).as("nrm"))
      .groupBy(col("bkt"))
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("embedding"), col("nrm")))).as("cands"))

  /** Online radius search: every corpus vector with cosine ≥ `minCos`
    * of each ARRIVING query — the batch [[Similarity.rangeSearchLsh]]
    * semantics on the stream (near-dup alerting at ingest). The query's
    * bucket id is a row-local fold, so the whole search is ONE
    * stateless equi-join on `bkt` + a generator + a filter: no window,
    * no per-query state, no watermark. Stream ≡ batch because scoring
    * is the same fixed-point kernel and selection is a plain threshold
    * (no rank to tie-break).
    */
  def rangeAgainstLshIndex(queries: DataFrame, packed: DataFrame,
                           bits: Int, dim: Int,
                           minCos: Double): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qemb"),
      VectorOps.lshBucket(col("embedding"), bits, dim).as("bkt"),
      VectorOps.norm(col("embedding")).as("qnrm"))
    q.join(packed, Seq("bkt"))
      .select(col("query_id"), col("qemb"), col("qnrm"),
        explode(col("cands")).as("c"))
      .where(col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("vec_id"),
        VectorOps.cosineOf(VectorOps.dot(col("qemb"), col("c.embedding")),
          col("qnrm"), col("c.nrm")).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** Top-k QUANTIZED cosine neighbors per query against the packed SQ8
    * index — the same stateless single-join shape as
    * [[topKAgainstIvfIndex]], with each candidate scored asymmetrically
    * (float query × dequantized int8 member, the batch
    * [[Similarity.ivfSq8QuantTopK]] kernel and tie-breaks, so stream ≡
    * batch bit-for-bit — SimStreamSq8Spec). The quantized ranking is the
    * memory-minimal online answer; when exact cosines matter, use
    * [[topKAgainstSq8IndexReranked]], which folds the full-precision
    * rerank into the same stateless shape.
    */
  def topKAgainstSq8Index(queries: DataFrame, packed: DataFrame,
                          cents: DataFrame, k: Int): DataFrame =
    singleSearch(queries, packed, cents, k, sq8Score)

  /** Top-k PRODUCT-QUANTIZED cosine neighbors per query against the
    * packed PQ index — the same stateless single-join shape as
    * [[topKAgainstSq8Index]], each candidate scored asymmetrically
    * (float query × codebook reconstruction, the batch
    * [[Similarity.ivfPqTopK]] kernel and tie-breaks, so stream ≡ batch
    * bit-for-bit — SimStreamPqSpec). The codes-only index is the
    * memory-minimal always-resident online artifact: at dim=64/m=8 the
    * per-member payload is 8 small ints vs sq8's 64 bytes + grid; the
    * codebook row it reconstructs from is m × ksub subvectors — a few
    * KB, broadcast onto the query side.
    */
  def topKAgainstPqIndex(queries: DataFrame, packed: DataFrame,
                         cents: DataFrame, cbsRow: DataFrame, k: Int,
                         m: Int, dim: Int): DataFrame =
    singleSearch(
      Similarity.withAdcTables(queries, cbsRow, m, dim, "embedding"),
      packed, cents, k, adcScore).drop("adc", "lutn")

  /** Top-k cosine neighbors per query against the packed index, probing
    * the query's `nProbe` nearest cells — STILL stateless (see
    * [[probedSearch]]). Ranking ties and probe-selection ties are the
    * batch [[Similarity.ivfTopKProbed]] orders, so stream ≡ batch
    * bit-for-bit (SimStreamProbedSpec); nProbe=1 reproduces
    * [[topKAgainstIvfIndex]].
    */
  def topKAgainstIvfIndexProbed(queries: DataFrame, packed: DataFrame,
                                cents: DataFrame, k: Int,
                                nProbe: Int): DataFrame =
    probedSearch(queries, packed, cents, k, nProbe, floatScore)

  /** The production online-ANN configuration — BOTH knobs at once:
    * nProbe > 1 (recall across Voronoi edges) over the int8-quantized
    * packed index (4× less resident memory). Same stateless probed
    * shape, quantized member scoring; stream ≡ batch
    * [[Similarity.ivfSq8QuantTopKProbed]] bit-for-bit
    * (SimStreamSq8Spec); nProbe=1 reproduces [[topKAgainstSq8Index]].
    */
  def topKAgainstSq8IndexProbed(queries: DataFrame, packed: DataFrame,
                                cents: DataFrame, k: Int,
                                nProbe: Int): DataFrame =
    probedSearch(queries, packed, cents, k, nProbe, sq8Score)

  /** Multi-probe over the codes-only PQ index — the recall knob at the
    * bottom of the memory ladder, STILL stateless (see [[probedSearch]]).
    * Ranking ties and probe-selection ties are the batch
    * [[Similarity.ivfPqTopKProbed]] orders, so stream ≡ batch
    * bit-for-bit (SimStreamPqSpec); nProbe=1 reproduces
    * [[topKAgainstPqIndex]].
    */
  def topKAgainstPqIndexProbed(queries: DataFrame, packed: DataFrame,
                               cents: DataFrame, cbsRow: DataFrame, k: Int,
                               m: Int, dim: Int, nProbe: Int): DataFrame =
    probedSearch(
      Similarity.withAdcTables(queries, cbsRow, m, dim, "embedding"),
      packed, cents, k, nProbe, adcScore).drop("adc", "lutn")

  /** Quantized search WITH the full-precision rerank — TRUE-cosine
    * rankings from a stateless stream. The batch
    * [[Similarity.ivfSq8TopK]] semantics (quantized shortlist of
    * `rerank` by (qcos DESC, vec_id ASC), exact re-score, final top-k by
    * (cos DESC, vec_id ASC)) re-shaped so no re-sort after a join is
    * ever needed: the query's cell row is joined from BOTH packed
    * indexes — the resident int8 index ([[sq8Index]]) that selects the
    * shortlist, and the full-precision packed index ([[ivfIndex]], same
    * centroids so cell ids coincide) that re-scores it — and shortlist
    * selection, exact re-scoring, and the final sort all happen INSIDE
    * the joined row. Two stateless equi-joins on the cell id, zero
    * stateful operators.
    *
    * Memory posture: only the int8 index need stay resident; the
    * full-precision side is a cold batch artifact read through the
    * stream-static join (its per-cell row is touched only for cells
    * queries actually land in). `rerank` at least the cell size makes
    * the output identical to [[topKAgainstIvfIndex]] by construction.
    * Stream ≡ batch [[Similarity.ivfSq8TopK]] bit-for-bit at the same
    * (k, rerank) — SimStreamSq8Spec, and the `stream_sim_sq8_rerank`
    * gate runs the batch oracle SQL.
    */
  def topKAgainstSq8IndexReranked(queries: DataFrame, packed: DataFrame,
                                  packedFull: DataFrame, cents: DataFrame,
                                  k: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val assigned = centScored(queries, cents)
      .withColumn("qcell", bestCid(col("scents"))).drop("scents")
    val joined = assigned
      .join(packed, col("qcell") === col("cell"))
      .drop("cell")
      .join(packedFull.select(col("cell").as("fcell"),
        col("cands").as("fcands")), col("qcell") === col("fcell"))
    // quantized shortlist: the batch window's (qcos DESC, vec_id ASC)
    // order incl. NaN placement, self excluded, first `rerank` ids
    val qscored = transform(
      filter(col("cands"), c => c.getField("vec_id") =!= col("vec_id")),
      c => struct(sq8Score(c).as("cos"), c.getField("vec_id").as("vid")))
    val slIds = transform(
      slice(array_sort(transform(qscored,
        s => struct(descKey(s.getField("cos")).as("nc"),
          s.getField("vid").as("vid")))), 1, rerank),
      x => x.getField("vid"))
    // exact re-score of the shortlist members out of the full-precision
    // cell row (every shortlist id is in the query's cell by
    // construction), final (cos DESC, vec_id ASC) top-k — all row-local
    val withSl = joined.withColumn("slids", slIds)
    rankTopK(withSl,
      filter(col("fcands"),
        c => array_contains(col("slids"), c.getField("vec_id"))),
      floatScore, k,
      passthroughOf(queries))
  }

  /** Both online-PQ knobs in one stateless stream — the production
    * retrieval configuration: the query probes its `nProbe` nearest
    * cells over the codes-only PQ index (recall across Voronoi edges),
    * asymmetric PQ cosine selects the `rerank`-deep shortlist from the
    * probed union, and the full-precision packed index re-scores it for
    * TRUE-cosine final rankings. Join fan-out is 2·nProbe stateless
    * LEFT equi-joins (codes + float row per probe — a probe landing in
    * an empty cell contributes null, filtered row-locally); zero
    * stateful operators, so the plan needs no watermark and state never
    * grows. Stream ≡ batch [[Similarity.ivfPqRerankTopKProbed]]
    * bit-for-bit at the same (k, rerank, nProbe) — SimStreamPqSpec;
    * nProbe=1 reproduces [[topKAgainstPqIndexReranked]].
    */
  def topKAgainstPqIndexProbedReranked(queries: DataFrame,
                                       packed: DataFrame,
                                       packedFull: DataFrame,
                                       cents: DataFrame, cbsRow: DataFrame,
                                       k: Int, m: Int, dim: Int,
                                       rerank: Int, nProbe: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val probeCells = transform(
      slice(array_sort(transform(col("scents"),
        s => struct(descKey(s.getField("s")).as("ns"),
          s.getField("cid").as("cid")))),
        1, nProbe),
      x => x.getField("cid"))
    val assigned = centScored(
      Similarity.withAdcTables(queries, cbsRow, m, dim, "embedding"), cents)
      .withColumn("pcells", probeCells).drop("scents")
    val joined = (0 until nProbe).foldLeft(assigned) { (df, i) =>
      df.join(packed.select(col("cell").as(s"cell$i"),
          col("cands").as(s"cands$i")),
        get(col("pcells"), lit(i)) === col(s"cell$i"), "left_outer")
        .drop(s"cell$i")
        .join(packedFull.select(col("cell").as(s"fcell$i"),
          col("cands").as(s"fcands$i")),
        get(col("pcells"), lit(i)) === col(s"fcell$i"), "left_outer")
        .drop(s"fcell$i")
    }
    val allCands = flatten(filter(
      array((0 until nProbe).map(i => col(s"cands$i")): _*),
      a => a.isNotNull))
    val allFull = flatten(filter(
      array((0 until nProbe).map(i => col(s"fcands$i")): _*),
      a => a.isNotNull))
    // PQ shortlist over the probed union: the batch (qcos DESC, vec_id
    // ASC) order incl. NaN placement, self excluded, first `rerank` ids
    val qscored = transform(
      filter(allCands, c => c.getField("vec_id") =!= col("vec_id")),
      c => struct(adcScore(c).as("cos"), c.getField("vec_id").as("vid")))
    val slIds = transform(
      slice(array_sort(transform(qscored,
        s => struct(descKey(s.getField("cos")).as("nc"),
          s.getField("vid").as("vid")))), 1, rerank),
      x => x.getField("vid"))
    val withSl = joined.withColumn("slids", slIds)
    rankTopK(withSl,
      filter(allFull,
        c => array_contains(col("slids"), c.getField("vec_id"))),
      floatScore, k,
      passthroughOf(queries))
  }

  // ───────────────────── residual PQ (IVFADC) online ──────────────────

  /** The residual-PQ (IVFADC) packed index for online search: the
    * codes-only per-cell candidate lists plus the per-cell SHIFTED
    * codebooks with their norm LUTs ([[graft.pipeline.Similarity
    * .residualScb]]/[[graft.pipeline.Similarity.scbNormLuts]] — joined
    * into one (cell, cbs, lutn) artifact so the online search attaches
    * both with a single cell-keyed stream-static join). All three
    * outputs are batch artifacts; persist and refresh with the corpus.
    */
  def residualPqIndex(emb: DataFrame, nCells: Int, m: Int, ksub: Int,
                      dim: Int): (DataFrame, DataFrame, DataFrame) = {
    val cells = Similarity.ivfCells(emb, nCells)
    packResidual(emb, nCells, cells,
      Similarity.residualScb(emb, cells, nCells, m, ksub, dim), m, dim)
  }

  /** [[residualPqIndex]] with the Lloyd-TRAINED residual codebooks
    * ([[graft.pipeline.Similarity.residualScbTrained]]) — the online
    * IVFADC index in its production form: training tightens the shared
    * residual entries at unchanged resident memory (codes stay m small
    * ints; only the broadcast shifted tables change). Same artifact
    * schema, so every search kernel and the append path consume it
    * unmodified.
    */
  def residualPqIndexTrained(emb: DataFrame, nCells: Int, m: Int,
                             ksub: Int, dim: Int,
                             iters: Int): (DataFrame, DataFrame, DataFrame) = {
    val cells = Similarity.ivfCells(emb, nCells)
    packResidual(emb, nCells, cells,
      Similarity.residualScbTrained(emb, cells, nCells, m, ksub, dim,
        iters), m, dim)
  }

  private def packResidual(emb: DataFrame, nCells: Int, cells: DataFrame,
                           scbC: DataFrame, m: Int,
                           dim: Int): (DataFrame, DataFrame, DataFrame) = {
    val packed = Similarity.pqResidualEncode(cells, scbC, m, dim)
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("codes")))).as("cands"))
    val scbL = scbC.join(Similarity.scbNormLuts(scbC),
      col("cell") === col("lcell")).drop("lcell")
    (packed, centsRow(emb, nCells), scbL)
  }

  /** Online residual-PQ (IVFADC) search, single cell: because the
    * shifted tables differ per cell, the ADC dot table cannot broadcast
    * once per query — it is built AFTER the cell join, per (query,
    * cell) row, exactly FAISS's per-probe LUT build. Still two stateless
    * cell-keyed equi-joins (codes + codebook artifact), zero stateful
    * operators; stream ≡ batch
    * [[graft.pipeline.Similarity.ivfPqResidualTopKProbed]] at nProbe=1
    * bit-for-bit (SimStreamResidualSpec, and the
    * `stream_sim_pq_residual` gate runs the batch oracle SQL).
    */
  def topKAgainstResidualPqIndex(queries: DataFrame, packed: DataFrame,
                                 cents: DataFrame, scbL: DataFrame,
                                 k: Int, m: Int, dim: Int): DataFrame = {
    val assigned = centScored(queries, cents)
      .withColumn("qcell", bestCid(col("scents"))).drop("scents")
    val joined = assigned.join(packed, col("qcell") === col("cell"))
      .drop("cell")
      .join(scbL.select(col("cell").as("scell"), col("cbs"), col("lutn")),
        col("qcell") === col("scell"))
      .drop("scell")
      .withColumn("adc", graft.expr.PqAdcLut(col("embedding"), col("cbs"),
        m, dim / m, VectorOps.Scale))
      .drop("cbs")
    rankTopK(joined, col("cands"), adcScore, k, passthroughOf(queries))
  }

  /** Multi-probe online residual-PQ search: per probe, the cell's codes
    * AND its shifted-codebook row join in (both left — an empty cell
    * contributes nothing), a per-probe ADC table is built row-locally,
    * and each probe's candidates are PRE-scored with their own-cell
    * tables before the probed union is ranked by the shared batch order.
    * 2·nProbe stateless equi-joins, zero stateful operators; nProbe=1
    * reproduces [[topKAgainstResidualPqIndex]], stream ≡ batch
    * bit-for-bit (SimStreamResidualSpec).
    */
  def topKAgainstResidualPqIndexProbed(queries: DataFrame,
                                       packed: DataFrame, cents: DataFrame,
                                       scbL: DataFrame, k: Int, m: Int,
                                       dim: Int, nProbe: Int): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val probeCells = transform(
      slice(array_sort(transform(col("scents"),
        s => struct(descKey(s.getField("s")).as("ns"),
          s.getField("cid").as("cid")))),
        1, nProbe),
      x => x.getField("cid"))
    val assigned = centScored(queries, cents)
      .withColumn("pcells", probeCells).drop("scents")
    val joined = (0 until nProbe).foldLeft(assigned) { (df, i) =>
      df.join(packed.select(col("cell").as(s"cell$i"),
          col("cands").as(s"cands$i")),
        get(col("pcells"), lit(i)) === col(s"cell$i"), "left_outer")
        .drop(s"cell$i")
        .join(scbL.select(col("cell").as(s"scell$i"),
          col("cbs").as(s"cbs$i"), col("lutn").as(s"lutn$i")),
        get(col("pcells"), lit(i)) === col(s"scell$i"), "left_outer")
        .drop(s"scell$i")
        .withColumn(s"adc$i", graft.expr.PqAdcLut(col("embedding"),
          col(s"cbs$i"), m, dim / m, VectorOps.Scale))
        .drop(s"cbs$i")
    }
    // pre-score each probe's candidates with ITS cell's tables, then
    // rank the union on the already-computed cosines (rankTopK's lambda
    // just reads the field — no double scoring)
    val pre = (0 until nProbe).map(i =>
      when(col(s"cands$i").isNotNull,
        transform(col(s"cands$i"), c => struct(
          Similarity.adcCosine(c.getField("codes"), col(s"adc$i"),
            col(s"lutn$i"), col("qnrm")).as("cos"),
          c.getField("vec_id").as("vec_id")))))
    val allCands = flatten(filter(array(pre: _*), a => a.isNotNull))
    rankTopK(joined, allCands, c => c.getField("cos"), k,
      passthroughOf(queries))
  }

  /** The residual (IVFADC) production configuration online: probes over
    * the codes-only residual index with per-(query, probe) ADC tables
    * ([[topKAgainstResidualPqIndexProbed]]'s own-cell pre-scoring),
    * shortlist of `rerank` from the probed union by residual-ADC cosine,
    * full-precision re-score out of the cold float index for TRUE-cosine
    * final rankings. 3·nProbe stateless LEFT equi-joins (codes + shifted
    * codebook + float row per probe), zero stateful operators; stream ≡
    * batch [[graft.pipeline.Similarity.ivfPqResidualRerankTopKProbed]]
    * bit-for-bit at the same (k, rerank, nProbe)
    * (SimStreamResidualSpec).
    */
  def topKAgainstResidualPqIndexProbedReranked(
      queries: DataFrame, packed: DataFrame, packedFull: DataFrame,
      cents: DataFrame, scbL: DataFrame, k: Int, m: Int, dim: Int,
      rerank: Int, nProbe: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val probeCells = transform(
      slice(array_sort(transform(col("scents"),
        s => struct(descKey(s.getField("s")).as("ns"),
          s.getField("cid").as("cid")))),
        1, nProbe),
      x => x.getField("cid"))
    val assigned = centScored(queries, cents)
      .withColumn("pcells", probeCells).drop("scents")
    val joined = (0 until nProbe).foldLeft(assigned) { (df, i) =>
      df.join(packed.select(col("cell").as(s"cell$i"),
          col("cands").as(s"cands$i")),
        get(col("pcells"), lit(i)) === col(s"cell$i"), "left_outer")
        .drop(s"cell$i")
        .join(scbL.select(col("cell").as(s"scell$i"),
          col("cbs").as(s"cbs$i"), col("lutn").as(s"lutn$i")),
        get(col("pcells"), lit(i)) === col(s"scell$i"), "left_outer")
        .drop(s"scell$i")
        .withColumn(s"adc$i", graft.expr.PqAdcLut(col("embedding"),
          col(s"cbs$i"), m, dim / m, VectorOps.Scale))
        .drop(s"cbs$i")
        .join(packedFull.select(col("cell").as(s"fcell$i"),
          col("cands").as(s"fcands$i")),
        get(col("pcells"), lit(i)) === col(s"fcell$i"), "left_outer")
        .drop(s"fcell$i")
    }
    // pre-score each probe's candidates with ITS cell's tables (the
    // IVFADC invariant), excluding self as the batch shortlist does
    val pre = (0 until nProbe).map(i =>
      when(col(s"cands$i").isNotNull,
        transform(
          filter(col(s"cands$i"),
            c => c.getField("vec_id") =!= col("vec_id")),
          c => struct(
            Similarity.adcCosine(c.getField("codes"), col(s"adc$i"),
              col(s"lutn$i"), col("qnrm")).as("cos"),
            c.getField("vec_id").as("vid")))))
    val qscored = flatten(filter(array(pre: _*), a => a.isNotNull))
    val slIds = transform(
      slice(array_sort(transform(qscored,
        s => struct(descKey(s.getField("cos")).as("nc"),
          s.getField("vid").as("vid")))), 1, rerank),
      x => x.getField("vid"))
    val allFull = flatten(filter(
      array((0 until nProbe).map(i => col(s"fcands$i")): _*),
      a => a.isNotNull))
    val withSl = joined.withColumn("slids", slIds)
    rankTopK(withSl,
      filter(allFull,
        c => array_contains(col("slids"), c.getField("vec_id"))),
      floatScore, k,
      passthroughOf(queries))
  }

  /** [[topKAgainstSq8IndexReranked]] one rung further down the memory
    * ladder: the codes-only PQ index selects the `rerank`-deep shortlist
    * by asymmetric PQ cosine (float query × codebook reconstruction),
    * the full-precision packed index re-scores it exactly, final top-k
    * by TRUE cosine — the batch [[Similarity.ivfPqRerankTopK]] semantics
    * and tie-breaks reshaped into the same two-stateless-join,
    * zero-stateful-operator stream. Only the 8-bytes-per-member PQ index
    * need stay resident; the float32 side is the cold batch artifact the
    * stream-static join touches per landed cell. Stream ≡ batch
    * bit-for-bit at the same (k, rerank) — SimStreamPqSpec, and the
    * `stream_sim_pq_rerank` gate runs the batch oracle SQL.
    */
  def topKAgainstPqIndexReranked(queries: DataFrame, packed: DataFrame,
                                 packedFull: DataFrame, cents: DataFrame,
                                 cbsRow: DataFrame, k: Int, m: Int,
                                 dim: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val assigned = centScored(
      Similarity.withAdcTables(queries, cbsRow, m, dim, "embedding"), cents)
      .withColumn("qcell", bestCid(col("scents"))).drop("scents")
    val joined = assigned
      .join(packed, col("qcell") === col("cell"))
      .drop("cell")
      .join(packedFull.select(col("cell").as("fcell"),
        col("cands").as("fcands")), col("qcell") === col("fcell"))
    // PQ shortlist: the batch window's (qcos DESC, vec_id ASC) order
    // incl. NaN placement, self excluded, first `rerank` ids
    val qscored = transform(
      filter(col("cands"), c => c.getField("vec_id") =!= col("vec_id")),
      c => struct(adcScore(c).as("cos"), c.getField("vec_id").as("vid")))
    val slIds = transform(
      slice(array_sort(transform(qscored,
        s => struct(descKey(s.getField("cos")).as("nc"),
          s.getField("vid").as("vid")))), 1, rerank),
      x => x.getField("vid"))
    val withSl = joined.withColumn("slids", slIds)
    rankTopK(withSl,
      filter(col("fcands"),
        c => array_contains(col("slids"), c.getField("vec_id"))),
      floatScore, k,
      // passthrough is computed on the RAW query frame, so the joined-on
      // codebook row never reaches the output — no drop needed
      passthroughOf(queries))
  }
}
