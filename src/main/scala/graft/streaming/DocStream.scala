package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The training-data pipeline on a document STREAM: the batch operators
  * from `graft.pipeline` re-hosted on Structured Streaming where their
  * shape allows it.
  *
  *   - exact dedup: `dropDuplicatesWithinWatermark` on the text hash —
  *     first occurrence wins, dedup state is evicted once the watermark
  *     passes (bounded by arrival-rate × watermark, NOT corpus size; the
  *     production posture for a firehose where historical dedup is a
  *     separate batch join against the corpus index)
  *   - quality / language-ID / token stats: row-local (narrow) — the
  *     IDENTICAL batch functions run unchanged on the stream; no
  *     re-implementation, which is the point of building operators as
  *     `DataFrame => DataFrame` transforms
  *
  *   - benchmark decontamination: [[decontaminate]] — stateless flagging
  *     of incoming docs overlapping the (broadcast) eval shingle set
  *   - MinHash near-dup vs corpus: [[nearDupAgainstIndex]] — row-local
  *     banded signature on the stream, stream-static join against the
  *     batch [[graft.pipeline.Dedup.bandIndex]], exact-Jaccard verify.
  *     Pairwise families run against a periodically refreshed batch
  *     index, deliberately never stream-stream over the accumulating
  *     corpus (unbounded state).
  */
object DocStream {

  /** input: streaming frame (ts: timestamp, doc_id, text) */
  def dedupExact(docs: DataFrame, watermark: String): DataFrame =
    docs.withWatermark("ts", watermark)
      .withColumn("text_hash", md5(col("text")))
      .dropDuplicatesWithinWatermark("text_hash")

  /** Online CCNet perplexity labeling: each ARRIVING document is scored
    * against the frozen unigram LM and labeled head/middle/tail against
    * the frozen per-language tercile cuts — both batch-refreshed
    * artifacts (exactly CCNet's deployment: LM + cutoff files trained on
    * the reference corpus, the firehose labeled as it arrives).
    *
    * Plan: the cut table joins on `lang` BEFORE the per-doc token
    * aggregation (stateless stream-static equi-join; c13/c23 ride the
    * grouping key, functionally dependent on doc_id), the LM joins on
    * the token exactly as the batch scorer does, and the label is a
    * row-local comparison after the aggregate. One stateful operator —
    * the same per-doc token re-group as the logprob gate (update mode:
    * a doc's tokens all ride one input row, so each doc emits once per
    * replay).
    */
  def pplLabel(docs: DataFrame, model: DataFrame,
               cuts: DataFrame): DataFrame = {
    val tok = graft.pipeline.Dedup.withWords(docs)
      .select(col("doc_id"), col("lang"), explode(col("w")).as("word"))
      .join(broadcast(cuts), "lang")
    val total = model.select(col("n_total")).limit(1)
    tok.crossJoin(broadcast(total))
      .join(model.select(col("word"), col("n_word")), Seq("word"), "left")
      .withColumn("lp", round(log10(
        coalesce(col("n_word"), lit(1L)).cast("double") / col("n_total")),
        9))
      .groupBy("doc_id", "lang", "c13", "c23")
      .agg((graft.core.Exact.dsum(col("lp")) / count(lit(1)))
        .as("avg_logprob"))
      .select(col("doc_id") +: col("lang") +: col("avg_logprob") +:
        graft.pipeline.Curation.pplLabelCols(
          col("avg_logprob"), col("c13"), col("c23")): _*)
  }

  /** Online TF-IDF keyword extraction against FROZEN corpus statistics
    * (per-term document frequency + corpus size, batch-refreshed like
    * the unigram LM): each arriving document's term frequencies are
    * computed ROW-LOCALLY (run boundaries of the sorted word array — no
    * token-count aggregation on the stream), the (word, tf) pairs join
    * the frozen df table statelessly, and ONE doc-keyed aggregation
    * collects the scored terms so the top-k rank is a row-local
    * sort/slice in the post-aggregate projection. Output ≡ the batch
    * [[graft.pipeline.TextOps.tfidfTopK]] rows (scores 9dp-rounded, the
    * same (score DESC, word ASC) order), so the batch SQL is the
    * oracle. Update mode: a doc's terms ride one input row, so each doc
    * emits once per replay.
    */
  def tfidfTopK(docs: DataFrame, dfreq: DataFrame, nDocs: DataFrame,
                k: Int): DataFrame = {
    val ws = array_sort(col("w"))
    val ends = filter(sequence(lit(1), size(col("ws"))), p =>
      coalesce(get(col("ws"), p) =!= element_at(col("ws"), p), lit(true)))
    val starts = concat(array(lit(0)),
      slice(col("ends"), lit(1), size(col("ends")) - 1))
    val pairs = zip_with(col("ends"), starts, (e, s) =>
      struct(element_at(col("ws"), e).as("word"),
        (e - s).cast("long").as("tf")))
    val ranked = slice(array_sort(transform(col("terms"), t =>
      struct((-t.getField("score")).as("ns"),
        t.getField("word").as("word"), t.getField("tf").as("tf"),
        t.getField("score").as("score")))), 1, k)
    docs
      .withColumn("w", filter(split(trim(col("text")), " "), x => x =!= ""))
      .where(size(col("w")) > 0)
      .withColumn("ws", ws)
      .withColumn("ends", ends)
      .select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.word").as("word"), col("p.tf").as("tf"))
      .crossJoin(broadcast(nDocs))
      .join(dfreq, Seq("word"))
      .withColumn("score",
        round(col("tf") * log10(col("n_docs").cast("double") / col("df")),
          9))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("score"), col("word"), col("tf")))
        .as("terms"))
      .select(col("doc_id"), posexplode(ranked))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.word").as("word"), col("col.tf").as("tf"),
        col("col.score").as("score"))
  }

  /** Live vocabulary heavy-hitters — the streaming form of
    * [[graft.pipeline.TextOps.vocabTopK]]'s occurrence column: word
    * counts over everything that has arrived so far, topped at `k`
    * (complete output mode — each trigger republishes the current
    * leaderboard, the live-dashboard contract). The tokenizer is the
    * batch operator's, so the stream's counts equal the batch's on the
    * same corpus.
    *
    * State is one count per distinct word — vocabulary-bounded, not
    * corpus-bounded (the same reason word counts were THE original
    * streaming-aggregation demo), with map-side partial aggregation
    * ahead of the one shuffle. The doc-frequency column needs a distinct
    * aggregate (unsupported over streams); the batch operator carries
    * it, the stream serves the occurrence leaderboard.
    */
  def vocabTopK(docs: DataFrame, k: Int): DataFrame =
    graft.pipeline.Dedup.withWords(docs)
      .select(explode(col("w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("word").asc)
      .limit(k)

  // not `private`: Catalyst's generated (de)serializers access these from
  // synthesized classes outside this object
  case class QIn(strata: String, doc_id: Long)
  case class QOut(strata: String, doc_id: Long, rank: Long)
  /** keyed state for [[quotaAdmit]]: admitted count + doc_id frontier */
  case class QuotaSt(admitted: Long, frontier: Long)

  /** ONLINE per-stratum quota admission — the streaming counterpart of
    * [[graft.pipeline.Curation.sampleQuota]] with FIRST-ARRIVAL
    * semantics: a stratum admits its first `quota` documents and closes.
    * (The batch operator draws hash-first — an offline luxury; online,
    * admission order IS arrival order, which the doc_id-ordered replay
    * makes deterministic: the oracle is `ROW_NUMBER() OVER (PARTITION BY
    * strata ORDER BY doc_id) <= quota`.) In-batch rows fold in doc_id
    * order; arrivals at or behind the per-stratum frontier drop (the
    * shared frontier contract). State is TWO LONGS per stratum —
    * bounded by the stratum vocabulary, never the corpus — so no
    * watermark eviction is needed.
    */
  def quotaAdmit(docs: DataFrame, strataCol: String,
                 quota: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    require(quota > 0, s"quota must be positive, got $quota")
    val in = docs
      .select(col(strataCol).cast("string").as("strata"), col("doc_id"))
      .as[QIn](Encoders.product[QIn])
    def fold(key: String, rows: Iterator[QIn],
             state: GroupState[QuotaSt]): Iterator[QOut] = {
      val st = state.getOption.getOrElse(QuotaSt(0L, Long.MinValue))
      var n = st.admitted
      var f = st.frontier
      val out = Seq.newBuilder[QOut]
      for (r <- rows.toSeq.sortBy(_.doc_id) if r.doc_id > f) {
        f = r.doc_id
        if (n < quota) { n += 1; out += QOut(key, r.doc_id, n) }
      }
      state.update(QuotaSt(n, f))
      out.result().iterator
    }
    in.groupByKey(_.strata)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fold)(
        Encoders.product[QuotaSt], Encoders.product[QOut])
      .toDF(strataCol, "doc_id", "rank")
  }

  /** DuckDB mirror of [[quotaAdmit]] over `documents`. */
  def quotaAdmitSql(strataCol: String, quota: Int): String =
    s"""SELECT $strataCol, doc_id, rank FROM (
       |  SELECT $strataCol, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY $strataCol
       |                            ORDER BY doc_id) AS rank
       |  FROM documents)
       |WHERE rank <= $quota
       |ORDER BY $strataCol, rank""".stripMargin

  case class DocIn(text_hash: String, ts: java.sql.Timestamp,
                   doc_id: Long, quality: Double)
  case class DecOut(doc_id: Long, decision: String)
  /** keyed state for [[decisions]]: the hash's earliest arrival */
  case class SeenHash(firstTsMs: Long, firstDocId: Long)

  /** The ONLINE admission capstone — the streaming analog of the batch
    * [[graft.pipeline.Corpus.decisions]]: every arriving document gets a
    * verdict the moment it clears the watermark — 'dup' (an exact
    * duplicate of an earlier arrival), 'low_quality' (same operator and
    * threshold as the batch gate), or 'kept'. Precedence mirrors the
    * batch: dup wins, and the FIRST arrival claims the hash whatever its
    * quality (membership decides dup-ness, quality judges only the
    * canonical copy).
    *
    * Unlike [[dedupExact]] (which emits the kept SET and lets
    * `dropDuplicatesWithinWatermark` pick an arbitrary row inside a
    * micro-batch), per-document verdicts need a DETERMINISTIC first
    * arrival, so the dedup leg is keyed state over the text hash with
    * in-batch arrivals sorted by (ts, doc_id) — the oracle's
    * `ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY ts, doc_id)`
    * order. State is one small row per hash with event-time eviction
    * after `retainMs` past the hash's last sighting (the
    * within-watermark contract, same bound as the dedupExact state), so
    * state size tracks the active hash set, never the corpus.
    */
  def decisions(docs: DataFrame, watermark: String, retainMs: Long,
                qualityThreshold: Double): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    require(retainMs > 0,
      s"retainMs must be positive (got $retainMs) — the dup state is " +
        "event-time-evicted, and a non-positive retention would place " +
        "every timeout at or below the watermark")
    val hashed = graft.pipeline.TextOps.withQuality(docs)
      .withWatermark("ts", watermark)
      .select(md5(col("text")).as("text_hash"), col("ts"), col("doc_id"),
        col("quality"))
      .as[DocIn](Encoders.product[DocIn])
    def decide(key: String, rows: Iterator[DocIn],
               state: GroupState[SeenHash]): Iterator[DecOut] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val sorted = rows.toArray.sortBy(r => (r.ts.getTime, r.doc_id))
        var seen = state.getOption.isDefined
        val out = sorted.map { r =>
          val d =
            if (seen) "dup"
            else if (r.quality < qualityThreshold) "low_quality"
            else "kept"
          if (!seen) {
            state.update(SeenHash(r.ts.getTime, r.doc_id)); seen = true
          }
          DecOut(r.doc_id, d)
        }
        // clamp above the current watermark: rows below the watermark are
        // filtered before this operator, so maxTs + retainMs normally
        // clears it, but a retainMs smaller than the watermark delay
        // could still land at/behind it and setTimeoutTimestamp throws —
        // same guard as StreamingDql's derivate state
        state.setTimeoutTimestamp(math.max(
          sorted.map(_.ts.getTime).max + retainMs,
          state.getCurrentWatermarkMs() + 1))
        out.iterator
      }
    }
    hashed.groupByKey(_.text_hash)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(decide)(
        Encoders.product[SeenHash], Encoders.product[DecOut])
      .toDF("doc_id", "decision")
  }

  /** row-local 3-word shingle array (`sh`) — the per-document equivalent
    * of the batch exploded [[graft.pipeline.Dedup.shingles3]] rows; docs
    * shorter than one shingle are dropped on both sides
    */
  private def withShingles(docs: DataFrame): DataFrame =
    docs.withColumn("w", split(trim(col("text")), " "))
      .where(size(col("w")) >= 3)
      .withColumn("sh", expr("transform(sequence(0, size(w)-3), " +
        "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))

  /** NEAR-duplicate detection for a document firehose against a static
    * corpus index ([[graft.pipeline.Dedup.bandIndex]]) — the production
    * posture for pairwise dedup on a stream: the pairwise join runs
    * against a batch-refreshed artifact, never stream-stream over the
    * accumulating corpus (unbounded state).
    *
    * The stream side is completely NARROW: a single document's banded
    * minhash signature is a row-local array fold — shingles →
    * `Seeds` md5s per shingle → per-(seed, channel) minima → `Bands` band
    * keys — bit-identical to the batch signature over the same text (the
    * batch form aggregates exploded shingle rows because it signs the
    * whole corpus at once; one incoming doc's fold fits in its row).
    * Candidates come from the (band_idx, bh) equi-join against the index;
    * each is verified row-locally with the exact distinct-shingle Jaccard
    * (the index row carries the candidate's set). A candidate pair
    * colliding in several bands would flag multiple times —
    * `dropDuplicatesWithinWatermark` on (doc_id, match_id) bounds that
    * dedup state by the watermark, not the corpus.
    *
    * Returns (ts, doc_id, match_id, jaccard): one row per flagged pair at
    * true Jaccard ≥ threshold. Exactly the pairs the batch
    * [[graft.pipeline.Dedup.minhashPairs]] emits for the same (doc,
    * corpus) at the same threshold — gate-verified both ways.
    *
    * @param docs  streaming frame (ts: timestamp, doc_id, text)
    * @param index batch frame from [[graft.pipeline.Dedup.bandIndex]]
    */
  def nearDupAgainstIndex(docs: DataFrame, index: DataFrame,
                          threshold: Double, watermark: String): DataFrame =
    nearDupCandidates(docs.withWatermark("ts", watermark), index, threshold)
      .dropDuplicatesWithinWatermark("doc_id", "match_id")

  /** Streaming exact substring-span probe — the online face of
    * [[graft.pipeline.Dedup.substringSpans]]: each arriving document's
    * n-token window hashes checked against the corpus duplicated-gram
    * artifact ([[graft.pipeline.Dedup.dupGrams]], batch-refreshed like
    * the near-dup band index), emitting the duplicated window starts
    * (doc_id, pos) the moment the document lands. The stream side is a
    * stateless row-local explode (the shared
    * [[graft.pipeline.Dedup.gramOccurrences]] derivation — hit
    * definition single-sourced with batch); the probe is one
    * stream-static equi-join on the hash. Zero stateful operators,
    * append mode.
    */
  def spanHitsAgainstGrams(docs: DataFrame, dup: DataFrame,
                           n: Int): DataFrame =
    graft.pipeline.Dedup.spanHits(
      graft.pipeline.Dedup.gramOccurrences(docs, n), dup)
      .select(col("doc_id"), col("pos").cast("long").as("pos"))

  /** Streaming substring-span SCRUB — the online face of
    * [[graft.pipeline.Dedup.substringScrub]], completing the pair the way
    * `stream_bpe_encode` completes `bpe_encode`: each arriving document
    * is rewritten in place the moment it lands, duplicated-span tokens
    * cut against the batch-refreshed gram artifact.
    *
    * Plan: window hashes derive row-locally (the shared
    * [[graft.pipeline.Dedup.gramHashes]] expression, OUTER-exploded so
    * hit-less and shorter-than-one-window documents still pass through),
    * one stream-static LEFT join marks duplicated windows, and ONE
    * doc-keyed re-group (update mode — a document's windows all ride one
    * input row, so each doc emits exactly once per replay, the
    * `unigramLogProb` state posture; production would watermark the
    * aggregation) collects its hit positions. The island merge that
    * batch runs as a corpus window pass happens ROW-LOCALLY here: an
    * `aggregate` fold over the sorted hit array chains starts within n
    * into (s, e)-islands — bit-identical to the batch lag/sum merge
    * because both compare each hit to its predecessor — then the same
    * indexed array filter cuts the tokens. No corpus shuffle anywhere:
    * the only exchange is the per-doc re-group of one document's rows.
    */
  def scrubAgainstGrams(docs: DataFrame, dup: DataFrame,
                        n: Int): DataFrame =
    scrubHitting(docs, dup, n, keepFirst = false)

  /** [[scrubAgainstGrams]] with the Lee et al. keep-ONE semantics,
    * online: the batch-refreshed artifact carries each duplicated
    * hash's packed canonical-occurrence key
    * ([[graft.pipeline.Dedup.dupGramsWithCanon]] — canonicality is
    * corpus-global, so it must ride the artifact; a single arriving
    * document cannot know it), and an arriving occurrence counts as a
    * hit only when it is NOT the canonical copy — a row-local packed-key
    * inequality, exactly the batch exemption. Same plan shape as the
    * keep-zero scrub: stateless stream-static left join, one doc-keyed
    * re-group, row-local island fold.
    */
  def scrubKeepFirstAgainstGrams(docs: DataFrame, dupCanon: DataFrame,
                                 n: Int): DataFrame =
    scrubHitting(docs, dupCanon, n, keepFirst = true)

  /** Shared scrub core — fully ROW-LOCAL since r21: window hashes derive
    * per row ([[graft.pipeline.Dedup.gramHashes]], unchanged), and the
    * hit positions come from probing the artifact as a broadcast SET
    * instead of explode → stream-static join → doc-keyed re-group. The
    * previous shape posexploded every window hash into its own row WITH
    * the full word array `w` riding along (Generate copies the array
    * into every output row, and the re-group hashed (doc_id, w) — the
    * whole array — as its group key per row): O(len²) row-buffer bytes
    * per document, measured as stream_scrub's 3.2 s steady vs 0.6 s for
    * stream_spans, whose exploded rows carry only (doc_id, pos, gh).
    * The artifact was ALREADY broadcast (BroadcastHashJoin in the r20
    * plan), so a driver-collected set is the same memory class; the
    * decon operator set the UDF-probe precedent with measurements. The
    * stateful re-group disappears entirely — zero state stores, zero
    * exchanges; each doc emits exactly once per replay as before
    * (stateless row pass-through of the bounded replay).
    *
    * Bit-identity: `ps` was sort_array(collect_list(when(hit, pos))) —
    * the ascending hit positions; the probe emits positions in ascending
    * order by construction. The keep-first exemption compares the SAME
    * packed key arithmetic (doc_id·2³² + pos, exact integers) against
    * the artifact's c0. Everything downstream of `ps` (island fold, span
    * widen, indexed cut) is byte-for-byte the previous expression chain.
    */
  private def scrubHitting(docs: DataFrame, dup: DataFrame, n: Int,
                           keepFirst: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.udf
    // (gh → canonical packed key) for keep-first, (gh → null) otherwise;
    // the artifact is the batch-refreshed broadcast-class table the old
    // join shipped to every executor anyway
    val canon: Map[String, BigInt] =
      if (keepFirst)
        dup.select(col("gh"), col("c0")).collect().iterator
          .map(r => r.getString(0) ->
            BigInt(r.getDecimal(1).toBigIntegerExact)).toMap
      else
        dup.select(col("gh")).collect().iterator
          .map(r => r.getString(0) -> (null: BigInt)).toMap
    val b = docs.sparkSession.sparkContext.broadcast(canon)
    val hitPs = udf((docId: Long, ghs: Seq[String]) => {
      if (ghs == null) Seq.empty[Int]
      else {
        val m = b.value
        val out = Seq.newBuilder[Int]
        var i = 0
        val it = ghs.iterator
        while (it.hasNext) {
          val gh = it.next()
          m.get(gh) match {
            case Some(c0) =>
              if (c0 == null ||
                  BigInt(docId) * 4294967296L + i != c0) out += i
            case None => ()
          }
          i += 1
        }
        out.result()
      }
    })
    // the explode(array(struct)) seal is the generator barrier (the
    // signatureRowLocal idiom): `ps` is referenced from inside the
    // island fold and the per-word cut lambdas below, and without the
    // barrier CollapseProject splices the UDF + fold chain into those
    // lambda bodies — re-evaluating them per word element (measured:
    // 8.4 s/batch vs 0.35 s sealed)
    val agg = graft.pipeline.Dedup.withWords(docs)
      .select(col("doc_id"), col("w"),
        explode(array(struct(
          hitPs(col("doc_id"), graft.pipeline.Dedup.gramHashes(n))
            .as("ps")))).as("s"))
      .select(col("doc_id"), col("w"), col("s.ps").as("ps"))
    val emptySpans = array().cast("array<struct<s:int,e:int>>")
    // chain merge: each hit joins its predecessor's island when the gap
    // is ≤ n (s = island min, e = island max — the running last hit)
    val islands = aggregate(col("ps"), emptySpans, (acc, p) => {
      val last = element_at(acc, -1)
      when(size(acc) === 0, array(struct(p.as("s"), p.as("e"))))
        .when(p - last.getField("e") > n,
          concat(acc, array(struct(p.as("s"), p.as("e")))))
        .otherwise(concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(last.getField("s").as("s"), p.as("e")))))
    })
    val spans = transform(islands, sp =>
      struct(sp.getField("s").as("s"),
        (sp.getField("e") + lit(n - 1)).as("e")))
    agg
      // second seal: without it the fold-over-ps chain splices into the
      // per-word `kept` lambda below and re-runs PER WORD ELEMENT —
      // O(words × hits) per document (a fully-duplicated 1000-word doc
      // pays 10⁶ fold steps); sealed, the islands merge runs once per
      // doc and the per-word probe is O(spans)
      .select(col("doc_id"), col("w"),
        explode(array(struct(spans.as("sp")))).as("s2"))
      .select(col("doc_id"), col("w"), col("s2.sp").as("sp"))
      .withColumn("kept", filter(col("w"), (x, i) =>
        !exists(col("sp"), p =>
          p.getField("s") <= i && i <= p.getField("e"))))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_dropped"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** the stateless core of [[nearDupAgainstIndex]]: row-local banded
    * signature + index probe + exact-Jaccard verify, WITHOUT the pair
    * dedup (a pair colliding in several bands repeats). Runs on batch
    * frames too — which is how the row-local signature's bit-parity with
    * the batch derivation is property-tested (RowLocalParitySpec).
    */
  def nearDupCandidates(docs: DataFrame, index: DataFrame,
                        threshold: Double): DataFrame = {
    import graft.pipeline.Dedup.{Bands, Channels, Seeds}
    val withSh = withShingles(docs)
    val withH = (0 until Seeds).foldLeft(withSh) { (df, s) =>
      df.withColumn(s"h$s",
        expr(s"transform(sh, x -> md5(concat_ws('|', '$s', x)))"))
    }
    val mhs = for (s <- 0 until Seeds; c <- 0 until Channels) yield (s, c)
    val withMh = mhs.foldLeft(withH) { case (df, (s, c)) =>
      df.withColumn(s"mh${s}_$c",
        expr(s"array_min(transform(h$s, h -> substring(h, ${c * 8 + 1}, 8)))"))
    }
    val withBands = (0 until Bands).foldLeft(withMh) { (df, b) =>
      df.withColumn(s"band$b",
        md5(concat((0 until Channels).map(c => col(s"mh${b}_$c")): _*)))
    }
    val probes = withBands.select(col("ts"), col("doc_id"),
        array_distinct(col("sh")).as("ss"),
        explode(array((0 until Bands).map(b =>
          struct(lit(b).as("band_idx"), col(s"band$b").as("bh"))): _*))
          .as("band"))
      .select(col("ts"), col("doc_id"), col("ss"),
        col("band.band_idx").as("band_idx"), col("band.bh").as("bh"))
    probes
      .join(index.select(col("band_idx"), col("bh"),
        col("doc_id").as("match_id"), col("ss").as("mss")),
        Seq("band_idx", "bh"))
      .where(col("doc_id") =!= col("match_id"))
      .withColumn("i", size(array_intersect(col("ss"), col("mss"))))
      .withColumn("jaccard", col("i").cast("double") /
        (size(col("ss")) + size(col("mss")) - col("i")))
      .where(col("jaccard") >= threshold)
      .select(col("ts"), col("doc_id"), col("match_id"), col("jaccard"))
  }

  /** Streaming benchmark DECONTAMINATION: flag incoming documents sharing
    * ≥ `minOverlap` distinct 3-word shingles with the eval corpus — the
    * batch [[graft.pipeline.Curation.decontaminate]] semantics, in flight.
    *
    * Entirely STATELESS: the eval side materializes ONCE into a broadcast
    * hash set (the same payload the batch operator's broadcast join ships
    * — benchmark suites are small by construction; a contamination source
    * too big to broadcast should run as the batch operator over
    * accumulated data), and the per-doc overlap is O(|doc shingles|) set
    * probes inside one text→count UDF. This is the one place a UDF beats
    * the native array expressions, measured both ways at sf0.1 (5 k docs ×
    * 2.4 k eval shingles): `array_intersect` against an eval-set array
    * column re-hashes the WHOLE eval set per row (5.9 s), and an
    * array-typed UDF pays the ArrayData→Seq conversion per evaluation
    * (3.5 s); the string-in/long-out form does the tokenize + slide +
    * probe in plain Scala against the shared set (≈ the shingle-free
    * replay floor). Shingling must stay in lockstep with
    * [[graft.pipeline.Dedup.shingles3]]: regex-split on single spaces
    * KEEPING empties (`split(_, " ", -1)`), 3-word windows, distinct.
    * No watermark, no state store. `minOverlap` must be ≥ 1 (the batch
    * operator's join can never emit an overlap-0 row).
    *
    * Returns (doc_id, n_overlap) for flagged documents, the batch output.
    */
  def decontaminate(docs: DataFrame, eval: DataFrame,
                    minOverlap: Int): DataFrame =
    // the probe is stateless row-local DataFrame ops, so the batch
    // operator's kernel runs unchanged on the streaming frame (r21: the
    // UDF kernel that lived here moved to Curation so the batch
    // decon_ngram gate shares it — one implementation, zero drift)
    graft.pipeline.Curation.decontaminate(docs, eval, minOverlap)
}
