package graft.entry

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Exact, SeriesOps, Tables}
import graft.core.Caches.ArtifactMemo
import graft.dql.{DqlArtifacts, TestdataStore}
import graft.ops.{Rolling, Sessions}
import graft.pipeline.{Bpe, Classifier, Corpus, Curation, Dedup, Dsir, Pca,
  Similarity, TextOps}
import graft.streaming.{AsofStream, DocStream, EventStream, SeriesStream,
  SimStream, StreamingDql, StreamingPipelineDql}

/** Correctness gates for the streaming engines (SURVEY §2.10 /
  * StreamingDql, DocStream): the events/documents tables replayed through
  * Spark's FILE streaming source — the production ingestion shape, no
  * driver-side collect — with the same DQL text the batch compiler runs,
  * checked against a DuckDB oracle over the same parquet.
  *
  * One gate per streaming operator family, so a regression anywhere in the
  * streaming surface (r6: the whole surface failed at query start) is
  * caught by the driver's CORRECTNESS run, not only by the ScalaTest
  * suites:
  *
  *   - `stream_avg`: single-stage path (`slotExact=false`, update mode) —
  *     windowed decimal-exact avg over raw events.
  *   - `stream_avg_slots`: the DEFAULT slot-exact chained plan (append
  *     mode) — per-(series, 1 s slot) davg collapse under the 1 m window
  *     avg, the batch series model. Append emits on window close, so the
  *     staged source dir carries one far-future sentinel event that
  *     advances the watermark past every real window; the sentinel's own
  *     (never-closing) window is excluded by the `ws < SentinelMs` bound
  *     on both sides.
  *   - `stream_group_avg`: GROUP BY $tag USING fun — per-slot cross-series
  *     combine (window = resolution), slot-exact chained, append.
  *   - `stream_comb_diff`: fused same-window combinator (per-child filtered
  *     aggregates in ONE stateful operator) over an order-sensitive fold.
  *   - `stream_conf_count`: the `*_conf` confidence-channel family —
  *     per-window present-slot set synthesized to the batch {0,1}
  *     confidence array (single-stage, update mode: presence needs no
  *     collapse).
  *   - `stream_derivate`: keyed state ABOVE the aggregation
  *     (flatMapGroupsWithState) — per-metric diffs over closed windows
  *     with the batch head backfill (v'(0)=v'(1)). Safe against the
  *     sentinel because every purchase series in the testdata carries ≥2
  *     occupied windows (head backfill always binds to a real successor;
  *     the sentinel's own diff lands at SentinelMs and is excluded).
  *   - `stream_hist`: the fused §2.7 histogram reduction — int-round +
  *     out-of-range drop + discrete p90 per window (htv chosen so the
  *     drop path bites on real values).
  *   - `stream_multi`: the fused multi-selector funnel (dqe_funnel merge)
  *     — per-selector filtered aggregates in one stateful operator,
  *     unpivoted under the batch default names (unparsed selector text).
  *   - `stream_dedup`: DocStream exact dedup —
  *     `dropDuplicatesWithinWatermark` on the text hash over a document
  *     stream; the gate output is the kept hash SET (first-occurrence
  *     row choice within a replay batch is order-dependent, the set is
  *     not).
  *   - `stream_neardup`: DocStream stream-static near-dup — the replay
  *     probed against the corpus band index; flags exactly the batch
  *     minhash pair set (both directions), oracle = the batch pairs SQL.
  *   - `stream_decon`: DocStream stateless decontamination — the train
  *     split flagged against the eval split's broadcast shingle set,
  *     oracle = the batch decon_ngram SQL.
  *   - `stream_quality`: the batch text-quality operator unchanged on
  *     the stream (narrow projection), oracle = the batch SQL verbatim.
  *   - `stream_sim`: SimStream online ANN — the embeddings replay
  *     searched against the packed IVF index (stateless row-local
  *     top-k), oracle = the batch `sim_topk_ivf` SQL with the same
  *     parameters.
  *
  * Replay tuning, correctness-neutral: `spark.sql.shuffle.partitions` is
  * captured at streaming-query start and fixes the state-store partition
  * count for the query's lifetime. The session default (32, sized for the
  * batch gates) would spin 32 state stores per stateful operator — pure
  * machinery for a bounded replay, ~40% of gate wall-clock at 32→8
  * (r10), another ~11% at 8→4 with `Trigger.AvailableNow` (r13: each
  * task pays a state-store delta-file commit per partition per batch,
  * and AvailableNow replaces the processAllAvailable poll/stop cycle
  * with a self-terminating run), and another ~25–35% at 4→2 (r20
  * A/B over 15 gates, warm runs: e.g. stream_derivate 2.8 vs
  * 6.7 s, stream_hist 1.75 vs 3.3 s, stream_active 2.0 vs 3.3 s —
  * consistent on both the light DQL gates and the compute-carrying
  * doc-stream gates; 2→1 measured MIXED, the no-data output batch of
  * windowed gates gets slower single-threaded, so 2 is the floor).
  * The runner pins 2 for the replay and restores the session value
  * after; production streams size this to their cluster instead. The remaining per-gate floor is JIT/codegen of
  * each gate's DISTINCT stateful plan (~60 generated classes, 2–5 s of
  * across-thread JIT per gate, measured r13) — real per-query
  * compilation under the bench's cold-plan discipline, not harness
  * provisioning.
  *
  * Where the residual steady floor lives (r19 attribution, from the
  * per-batch `StreamingQueryProgress.durationMs` of each gate and the r18
  * detail artifact): per stream gate, only ~45 ms is query
  * start/stop/checkpoint management (the `provision_ms` column — so a
  * shared long-lived query per family, the obvious-looking fix, would
  * reclaim almost nothing), and executor task time is ~17% of wall; the
  * rest is Spark's PER-MICRO-BATCH driver work — incremental re-planning
  * (`queryPlanning` 0.15–0.4 s on the data batch), `addBatch` physical
  * planning + job orchestration, and offset/commit bookkeeping
  * (`latestOffset`+`commitOffsets`+`walCommit` ≈ 0.15–0.3 s/gate, already
  * on tmpfs). Batch structure is already minimal: 57 of 80 gates run ONE
  * micro-batch; the 23 append-mode windowed gates run exactly two, and
  * the second (no-data) batch IS their output batch — the watermark only
  * advances between batches, so closed windows can only emit there. That
  * batch is the operator's semantics, not harness waste. What remains is
  * the price of Spark's re-plan-every-batch execution model on complex
  * compiled DQL plans; it amortizes to zero on a production stream
  * (thousands of rows per trigger on a long-lived query) and is paid
  * once per gate here because every gate IS a fresh query by design.
  */
object StreamQueries extends QueryProvider {
  /** 2100-01-01 UTC — far past any driver-generated event */
  private val SentinelMs = 4102444800000L
  private val WinMs = 60000L
  // shared embedding dimension (r16 advisory: scattered 64 literals
  // risked silent gate/oracle drift if the fixture dimension changes)
  private val Dim = Tables.EmbeddingDim
  /** the query vectors of the online ANN gates, and their oracles' list */
  private val QueryIds = Seq(10L, 11L, 12L)
  private val QueryIdsSql = QueryIds.mkString(", ")
  private val runSeq = new AtomicInteger(0)

  /** the batch naming contract: default output name = unparsed selector */
  private def selectorNames(dql: String): Seq[String] =
    graft.dql.Parser.parse(dql).selectors
      .map(sel => graft.dql.Unparse.expr(sel.expr))

  /** collision-free, filename-safe key for a source dir (String.hashCode
    * collisions would cross-wire two scale factors' staged replays)
    */
  private def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)

  /** Root for replay staging and streaming checkpoints: tmpfs when the
    * box has one (`/dev/shm`), else the JVM temp dir. The replay harness
    * is bounded and re-creatable — checkpoint durability buys it nothing,
    * while every micro-batch pays the checkpoint's fsync cost three ways
    * (offset WAL, commit log, state-store delta files). Measured r18 at
    * sf0.1: walCommit+commitOffsets ~250 ms/batch and a share of addBatch
    * on a disk-backed /tmp — pure harness tax across 80 stream gates.
    * Production streams point `checkpointLocation` at durable storage;
    * this root is gate-harness scaffolding, same posture as the memory
    * sink below.
    */
  private val ReplayRoot: java.nio.file.Path = {
    val shm = Paths.get("/dev/shm")
    // free-space guard: containerized /dev/shm commonly defaults to
    // 64 MB, which passes the writability check and then ENOSPCs
    // mid-stage; require real headroom before preferring tmpfs
    def roomy(p: java.nio.file.Path): Boolean =
      try Files.getFileStore(p).getUsableSpace > 4L * (1L << 30)
      catch { case _: Throwable => false }
    sys.props.get("graft.replay.root").map(Paths.get(_)).getOrElse {
      if (Files.isDirectory(shm) && Files.isWritable(shm) && roomy(shm)) shm
      else Paths.get(System.getProperty("java.io.tmpdir"))
    }
  }

  /** Disk-backed fallback root for staged copies when the preferred
    * (tmpfs) root runs out of headroom mid-round (see [[stageCopy]]).
    */
  private val TmpRoot: java.nio.file.Path =
    Paths.get(System.getProperty("java.io.tmpdir"))

  /** Best-effort recursive delete (shared by the stale sweep; [[drain]]
    * has its own retry-once variant for the checkpoint race).
    */
  private def rmTree(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val ls = Files.list(p)
      try ls.iterator().forEachRemaining(rmTree(_))
      finally ls.close()
    }
    Files.deleteIfExists(p); ()
  }

  /** Sweep dead-run checkpoint leftovers under a staging root (r18
    * advice: drain's "left for the next run's sweep" promise had no
    * sweeper — a JVM killed mid-gate leaks `graft-ckpt-*` on /dev/shm,
    * where it holds RAM until reboot). The idle heuristic is only valid
    * for CONSTANTLY-WRITTEN dirs: a live drain's checkpoint is written
    * every micro-batch and every gate is bounded, so idle >
    * [[StaleIdleMs]] means a dead owner. Write-once staged CORPUS dirs
    * under a current name must never go through here — a concurrent
    * harness reads them without ever touching their mtime (r19 review);
    * those under a retired name have no reader left. Returns the number
    * of entries deleted (best-effort, 0 on error).
    */
  private[entry] val StaleIdleMs = 15L * 60 * 1000

  /** Newest mtime across a dir and its IMMEDIATE children (r19 advice:
    * Spark writes per-micro-batch files INSIDE the checkpoint's
    * offsets/ commits/ state/ subdirs, so the checkpoint root's own
    * mtime is frozen at creation — the idle check must look one level
    * down, where a live drain's offsets/ advances every batch).
    */
  private def recentMtimeMs(p: java.nio.file.Path): Long = {
    var m = Files.getLastModifiedTime(p).toMillis
    if (Files.isDirectory(p)) {
      val ls = Files.list(p)
      try ls.iterator().forEachRemaining { c =>
        try {
          val t = Files.getLastModifiedTime(c).toMillis
          if (t > m) m = t
        } catch { case _: Throwable => () }
      }
      finally ls.close()
    }
    m
  }

  private[entry] def sweepStale(root: java.nio.file.Path,
                         prefixes: Seq[String]): Int = {
    var swept = 0
    try {
      val now = System.currentTimeMillis()
      val ls = Files.list(root)
      try ls.iterator().forEachRemaining { p =>
        val n = p.getFileName.toString
        val stale = prefixes.exists(n.startsWith) &&
          (try now - recentMtimeMs(p) > StaleIdleMs
           catch { case _: Throwable => false })
        if (stale) {
          try { rmTree(p); swept += 1 }
          catch { case _: Throwable => () }
        }
      }
      finally ls.close()
    } catch { case _: Throwable => () }
    if (swept > 0)
      System.err.println(
        s"[stream] swept $swept stale staging entr(ies) under $root")
    swept
  }
  /** Prefixes the class-init sweep removes: dead-run checkpoints, and
    * staged corpora under the retired `graft-stream-{src,docs,emb}-`
    * names, which nothing reads any more. The current
    * `graft-stream-<table>-` copies stay (see [[stageCopy]]).
    */
  private[entry] val SweptPrefixes = Seq("graft-ckpt-", "graft-stream-src-",
    "graft-stream-docs-", "graft-stream-emb-")
  // the sweep the drain's cleanup message promises: once per JVM, at
  // class init, before any new checkpoint is cut — on BOTH roots a
  // checkpoint can land on (the disk-backed fallback leaks just the
  // same when a JVM dies mid-gate)
  sweepStale(ReplayRoot, SweptPrefixes)
  if (TmpRoot != ReplayRoot) sweepStale(TmpRoot, SweptPrefixes)

  /** Staging headroom exhausted on the preferred root — callers fall back
    * to the disk-backed [[TmpRoot]] for this corpus.
    */
  private final class StageSpaceException(msg: String)
    extends RuntimeException(msg)

  /** Copy `src` to `dst` unless an up-to-date copy is already staged —
    * same size AND at least as new as the source. A driver that
    * regenerates the testdata (or a copy that died halfway) must not be
    * masked by a stale /tmp survivor from an earlier process.
    */
  private def stageCopy(src: java.nio.file.Path,
                        dst: java.nio.file.Path): Boolean = {
    val fresh = Files.exists(dst) && Files.size(dst) == Files.size(src) &&
      !Files.getLastModifiedTime(dst).toInstant
        .isBefore(Files.getLastModifiedTime(src).toInstant)
    if (!fresh) {
      Files.createDirectories(dst.getParent)
      // headroom gate (r18 advice): the one-time roomy() check at root
      // selection ignores what will be STAGED — a large corpus (or
      // several corpora across a round) can pin tmpfs RAM until a later
      // copy ENOSPCs mid-stage. Check against THIS copy's size and raise
      // StageSpaceException so the caller re-stages this corpus on the
      // disk-backed root instead of dying mid-copy. Deliberately NO
      // sweep of other corpora's staged dirs here (r19 review): staged
      // corpora are write-once/read-many, so their mtime never advances
      // while a CONCURRENT harness is actively reading them — an idle
      // heuristic that is valid for constantly-written checkpoint dirs
      // would delete a live run's source files out from under its
      // streaming query. The fallback root absorbs the pressure instead.
      val need = Files.size(src) + (256L << 20) // copy + working margin
      val usable: Long =
        try Files.getFileStore(dst.getParent).getUsableSpace
        catch { case _: Throwable => Long.MaxValue }
      if (usable < need)
        throw new StageSpaceException(
          s"staging $src needs $need usable bytes but " +
            s"${dst.getParent}'s store has $usable")
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }
    !fresh
  }

  /** Memoized parquet schema of a staged file (footer read is a per-gate
    * driver-side cost otherwise — ~0.1 s × 60+ stream gates; the staged
    * copy is immutable for the process lifetime, so the schema is a
    * property of the staged artifact, i.e. provisioning).
    */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()
  private def stagedSchema(s: SparkSession,
                           path: String): org.apache.spark.sql.types.StructType =
    schemaMemo.computeIfAbsent(path, p => s.read.parquet(p).schema)

  /** Run `stage` against the preferred (tmpfs) root, falling back to the
    * disk-backed temp root when staging headroom runs out (r18 advice:
    * an ENOSPC mid-stage took the gate down; a slower disk-backed copy
    * is strictly better, and the fallback is per-corpus so an
    * already-staged corpus on tmpfs keeps its fast copies).
    */
  private def withStagingRoot[A](at: java.nio.file.Path => A): A =
    try at(ReplayRoot)
    catch {
      case e: StageSpaceException if ReplayRoot != TmpRoot =>
        System.err.println(
          s"[stream] ${e.getMessage} — re-staging on $TmpRoot")
        at(TmpRoot)
    }

  /** Staging dir for the file source: a copy of `<table>.parquet`, built
    * once per input dir and reused (contents are deterministic functions
    * of the input). The events copy also carries the one-row sentinel
    * file ([[writeSentinel]]).
    */
  private def stage(s: SparkSession, dir: String, table: String): String =
      synchronized { graft.core.Provisioning.timed {
    withStagingRoot { root =>
      val staged = root.resolve(s"graft-stream-$table-" + dirKey(dir))
      val copied = stageCopy(Paths.get(dir, s"$table.parquet"),
        staged.resolve(s"$table.parquet"))
      if (table == "events") writeSentinel(s, staged, copied)
      staged.toString
    }
  } }

  /** One 'purchase' event (matches the gate selectors — only selected
    * rows advance the watermark) at SentinelMs, schema-shaped by an
    * arbitrary real row. Append-mode gates emit on window close, so the
    * sentinel advances the watermark past every real window. Its `ts` is
    * written in the SAME encoding the real file carries, so the directory
    * reads under one uniform schema.
    */
  private def writeSentinel(s: SparkSession, staged: java.nio.file.Path,
                            copied: Boolean): Unit = {
    val sentinel = staged.resolve("zz-sentinel.parquet")
    if (copied || !Files.exists(sentinel)) {
      SeriesOps.readNanosAsLong(s)
      val build = staged.resolve("_sentinel_build")
      val evHead = s.read.parquet(staged.resolve("events.parquet").toString)
        .limit(1)
      evHead
        .withColumn("ts",
          SeriesOps.tsValue(SentinelMs, evHead.schema("ts").dataType))
        .withColumn("event_type", lit("purchase"))
        .withColumn("user_id", lit(0L))
        .withColumn("value", lit(0.0))
        .coalesce(1).write.mode("overwrite").parquet(build.toString)
      val ls = Files.list(build)
      val part =
        try ls.filter(_.getFileName.toString.startsWith("part-"))
          .findFirst().get()
        finally ls.close()
      Files.move(part, sentinel, StandardCopyOption.REPLACE_EXISTING)
      val rest = Files.list(build)
      try rest.iterator().forEachRemaining(Files.delete(_))
      finally rest.close()
      Files.delete(build)
    }
  }

  /** The staged `table` replayed through Spark's file streaming source:
    *   - `events`: sentinel included; `ts` decoded to a timestamp
    *     truncated to ms (so stream slots land exactly where the batch
    *     `ts_ms` does), with `ts_ms` beside it;
    *   - `documents`: a synthetic event time `ts` (doc_id seconds —
    *     deterministic, no ts column in the table; +1 day, because an
    *     event time of exactly epoch 0 sits ON the operator's initial
    *     watermark value and is filtered as late);
    *   - `embeddings`: as stored.
    */
  private def replay(s: SparkSession, dir: String, table: String)
      : DataFrame = {
    val staged = stage(s, dir, table)
    if (table == "events") SeriesOps.readNanosAsLong(s)
    val sch = stagedSchema(s, s"$staged/$table.parquet")
    val src = s.readStream.schema(sch).parquet(staged)
    table match {
      case "events" =>
        val ms = SeriesOps.tsMillis(sch("ts").dataType)
        src.withColumns(Map("ts" -> timestamp_millis(ms), "ts_ms" -> ms))
      // the staged dir is ONE file = one input split, which would run the
      // compute-heavy probe projections (2M+ md5 calls for the near-dup
      // signature) single-threaded — the stream analog of
      // Parallel.widen's narrow-layout case; a real firehose arrives
      // pre-partitioned. KEYED on doc_id (r21, the r20 events-widen fix
      // applied here): keyless repartition(8) paid the
      // sortBeforeRepartition determinism sort of full document texts on
      // EVERY micro-batch; a hash spread on the unique doc key is
      // deterministic per row, skips the sort, and spreads evenly (5000
      // docs across 8 partitions)
      case "documents" =>
        src.repartition(8, col("doc_id"))
          .withColumn("ts", timestamp_millis((col("doc_id") + 86400L) * 1000L))
      case _ => src
    }
  }

  /** replayed events strictly before the sentinel */
  private val real = col("ts") < timestamp_millis(lit(SentinelMs))

  /** Start `out` against the memory sink, drain the replay, return the
    * finished table. Pins the replay state-store partitioning (see class
    * doc) for the duration of query START only — the captured value rides
    * with the query; the session conf is restored before returning.
    *
    * GATE-HARNESS SHAPE, not a production pattern: the memory sink
    * retains every result row on the driver, which is exactly right for a
    * bounded replay whose rows the oracle compare reads back (and prior
    * tables are dropped above), and exactly wrong for an unbounded
    * stream — production pipelines write the `noop`/file/Kafka sinks.
    * Don't copy this into a real pipeline.
    */
  private val liveTables =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def drain(s: SparkSession, out: DataFrame, mode: String)
      : DataFrame = {
    // scaffolding vs execution split (core/Provisioning): query START
    // (temp checkpoint dir, state-store spin-up) and STOP (stream-thread
    // join, checkpoint cleanup) plus sink-table management are harness
    // provisioning; only processAllAvailable — the replay's micro-batches
    // — is what a production stream pays per batch
    // explicit checkpoint on the replay root (tmpfs where available): the
    // default temp checkpoint lands under java.io.tmpdir, which is
    // disk-backed here, and every batch fsyncs the offset WAL, the commit
    // log, and each state partition's delta file into it. An EXPLICIT
    // location is not auto-deleted the way temp checkpoints are (and a
    // leak on tmpfs is RAM), so cleanup is best-effort at every exit:
    // the state-store maintenance pool can still write a snapshot into
    // the dir moments after q.stop(), so a delete that loses that race
    // must never fail the gate — it retries once, then leaves the
    // stragglers for the next run's sweep rather than throwing from a
    // finally.
    def rmQuiet(root: java.nio.file.Path): Unit = {
      try rmTree(root)
      catch { case _: Throwable =>
        try { Thread.sleep(100); rmTree(root) }
        catch { case t: Throwable =>
          System.err.println(
            s"[stream] checkpoint cleanup incomplete at $root: " +
              s"${t.getClass.getSimpleName} (left for the next sweep)")
        }
      }
    }
    // checkpoint root selection goes through the same headroom posture
    // as corpus staging (r19 advice: on the exact tmpfs-full condition
    // StageSpaceException handles for staged copies, checkpoint
    // WAL/state writes could still ENOSPC mid-drain). Checkpoints are
    // small — offsets/commits are bytes, state deltas kilobytes — so a
    // fixed 256 MiB headroom check on the preferred root with the
    // disk-backed TmpRoot as fallback suffices; best-effort (an
    // unreadable file store keeps the preferred root).
    val ckpt = graft.core.Provisioning.timed {
      val root =
        try {
          if (ReplayRoot != TmpRoot &&
              Files.getFileStore(ReplayRoot).getUsableSpace < (256L << 20)) {
            System.err.println(
              s"[stream] low headroom on $ReplayRoot — checkpointing on " +
                s"$TmpRoot for this gate")
            TmpRoot
          } else ReplayRoot
        } catch { case _: Throwable => ReplayRoot }
      Files.createTempDirectory(root, "graft-ckpt-")
    }
    val q =
      try graft.core.Provisioning.timed {
        // earlier gate runs' results have been consumed by the caller by
        // the time the next gate builds (Verify writes each to parquet,
        // Bench noop-saves each, before moving on) — drop their
        // memory-sink tables so driver-side retention doesn't grow with
        // the number of gate runs
        var prev = liveTables.poll()
        while (prev != null) {
          s.catalog.dropTempView(prev)
          prev = liveTables.poll()
        }
        val name = s"graft_stream_gate_${runSeq.incrementAndGet()}"
        val prevParts = s.conf.get("spark.sql.shuffle.partitions")
        // replay state-store partitioning: 2 (see the class doc's
        // 32→8→4→2 measurement chain); captured at query start, rides
        // with the query for its lifetime
        s.conf.set("spark.sql.shuffle.partitions", "2")
        try out.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .outputMode(mode).start()
        finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      } catch { case t: Throwable =>
        // start() failed: the checkpoint dir has no owner — reclaim it
        // here or a repeatedly-failing gate accumulates tmpfs garbage
        rmQuiet(ckpt)
        throw t
      }
    try q.awaitTermination()
    finally graft.core.Provisioning.timed {
      q.stop()
      rmQuiet(ckpt)
    }
    val name = q.name
    liveTables.add(name)
    s.table(name)
  }

  /** How a DQL-text gate compiles and what it keeps. */
  private sealed trait Flag
  /** raw arrivals, no per-slot collapse (`slotExact = false`) */
  private case object Unslotted extends Flag
  /** keep the selector `name` column (multi-selector funnels) */
  private case object Named extends Flag
  /** the complete-mode `TOP n BY` leader board */
  private case object Board extends Flag
  /** pipeline DQL over the documents replay
    * ([[graft.streaming.StreamingPipelineDql]]: row-local operators and
    * frozen-artifact probes, each ≡ its batch oracle on the bounded
    * replay); otherwise series DQL over the events replay
    */
  private case object Pipeline extends Flag

  /** One gate: its name, the runner that drains its replay into a batch
    * frame, and the DuckDB oracle over the same parquet.
    */
  private final case class Gate(name: String,
                                run: (SparkSession, String) => DataFrame,
                                oracle: String)

  /** A DQL-text gate: the same text the batch compiler runs, compiled onto
    * the replay and drained in `mode`.
    */
  private def dql(name: String, text: String, mode: String,
                  flags: Set[Flag], oracle: String): Gate =
    Gate(name, (s, d) =>
      if (flags(Pipeline)) drain(s, StreamingPipelineDql.compile(
        replay(s, d, "documents"), text, new TestdataStore(d)), mode)
      else runDql(s, d, text, mode, flags), oracle)

  /** Run a series DQL over the events replay; returns the finished result
    * as a batch frame (metric, ws, value) bounded to real windows.
    */
  private def runDql(s: SparkSession, dir: String, text: String,
                     mode: String, flags: Set[Flag]): DataFrame = {
    val stream = replay(s, dir, "events")
      .select(col("ts"), col("event_type"), col("user_id"), col("value"))
    // opt-ins thread as explicit compile parameters, never a mutable
    // session conf toggled around the call (r16 advisory: a conf flip
    // leaks into any concurrent compilation on the shared session)
    val out = StreamingDql.compile(stream, text, "0 seconds",
      slotExact = Some(!flags(Unslotted)), topBoard = Some(flags(Board)))
    val cols = (if (flags(Named)) Seq("name") else Nil) ++
      Seq("metric", "ws", "value")
    drain(s, out, mode).where(col("ws") < SentinelMs)
      .select(cols.head, cols.tail: _*)
  }

  /** The purchase events keyed per (event_type, user) series, in
    * event-time order — the one replay of the keyed SeriesStream gates.
    */
  private def purchases(s: SparkSession,
                        dir: String): Dataset[SeriesStream.Ev] = {
    import s.implicits._
    replay(s, dir, "events")
      .select(col("ts"), col("event_type"), col("user_id"), col("value"))
      .where(col("event_type") === "purchase" && real)
      .as[SeriesStream.Ev]
  }

  /** A keyed SeriesStream gate: the in-order replay makes its online
    * scores equal the batch [[graft.ops.Rolling]] form bit-for-bit.
    */
  private def keyed(op: (SparkSession, Dataset[SeriesStream.Ev]) =>
      Dataset[_]): (SparkSession, String) => DataFrame =
    (s, d) => drain(s, op(s, purchases(s, d)).toDF(), "append")

  /** DuckDB oracle of a keyed gate: the [[graft.ops.Rolling]] SQL over
    * the per-(event_type, user) purchase series.
    */
  private def rollingSql(recursive: Boolean, body: String): String =
    s"""WITH${if (recursive) " RECURSIVE" else ""} base AS (
       |  SELECT event_type || '.' || CAST(user_id AS VARCHAR) AS metric,
       |         CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value
       |  FROM events WHERE event_type = 'purchase'),
       |$body
       |ORDER BY metric, ts_ms""".stripMargin

  /** The per-user event rows, in replay order, before the sentinel */
  private def userEvents(s: SparkSession, dir: String): DataFrame =
    replay(s, dir, "events").select(col("ts"), col("user_id"),
      col("event_id"), col("event_type")).where(real)

  /** Online DAU/WAU gate: ONE fused streaming query
    * ([[graft.streaming.EventStream.activeBoard]] — r13 verdict's
    * plan-identity pass: the two halves previously provisioned and
    * compiled two separate dedup→windowed-count pipelines; the tagged
    * union runs one). The sentinel advances the watermark past every
    * real day (and its 7-day coverage); the inner join on `day` over the
    * DRAINED board drops both the sentinel's rows and phantom
    * covered-but-never-active tail days, mirroring the batch semi-join.
    */
  private def runActive(s: SparkSession, dir: String): DataFrame = {
    val dayMs = 86400000L
    val stream = replay(s, dir, "events").select(col("ts"), col("user_id"))
    val board = drain(s, EventStream.activeBoard(stream, dayMs, 7), "append")
    // recombine the tags by conditional aggregation (a self-join of the
    // drained sink view trips conflicting-attribute resolution); the
    // both-tags-present filter mirrors the batch semi-join, dropping
    // phantom covered-but-never-active tail days
    board.groupBy(col("day"))
      .agg(max(when(col("tag") === "d", col("n"))).as("dau"),
        max(when(col("tag") === "w", col("n"))).as("wau"))
      .where(col("dau").isNotNull && col("wau").isNotNull &&
        col("day") < SentinelMs / dayMs)
      .select("day", "dau", "wau")
  }

  /** Online wide activity report: the batch PIVOT's desugared form —
    * Spark bars `pivot` on streams, but with explicit values it IS one
    * conditional aggregation, which streams fine in complete mode. The
    * final board ≡ the batch `events_pivot` (same oracle, single-
    * sourced); absent (day, type) combinations stay NULL (`sum(when)`
    * with no otherwise, the batch pivot's empty-group convention).
    */
  private def runPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val aggs = types.map(t => sum(when(col("event_type") === t, 1L)).as(t))
    val board = replay(s, dir, "events")
      .select(col("ts_ms"), col("event_type"))
      .withColumn("day", expr("ts_ms div 86400000"))
      .groupBy("day")
      .agg(aggs.head, aggs.tail: _*)
    drain(s, board, "complete")
      .where(col("day") < SentinelMs / 86400000L)
      .orderBy("day")
  }

  /** The frozen RFM frontier (max purchase ts), memoized per
    * (session, dir) — ONE scalar collected batch-side, the documented
    * eval-set-broadcast class of driver access: a live board scores
    * recency against a batch-refreshed frontier, not a wall clock.
    */
  private val rfmNowMemo =
    new ArtifactMemo[(SparkSession, String), java.lang.Long]
  private def rfmNow(s: SparkSession, dir: String): Long =
    rfmNowMemo((s, dir)) {
      java.lang.Long.valueOf(SeriesOps.events(s, dir)
        .where(col("event_type") === "purchase")
        .agg(max(col("ts_ms"))).head().getLong(0))
    }.longValue

  /** Stream-static as-of gate: the purchase event stream enriched with
    * each user's latest prior click from the STATIC click history (the
    * packed-index posture — one stateless equi-join + row-local fold).
    */
  private def runAsof(s: SparkSession, dir: String): DataFrame = {
    val left = replay(s, dir, "events")
      .where(col("event_type") === "purchase" && real)
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"), col("value"))
    val right = SeriesOps.events(s, dir, widen = false)
      .where(col("event_type") === "click")
      .select(col("user_id"), col("ts_ms"), col("value"))
    val idx = AsofStream.packed(right, Seq("user_id"), "ts_ms", "value")
    drain(s, AsofStream.asof(left, idx, Seq("user_id"), "ts_ms",
      "prior_click"), "append")
  }

  /** The corpus band index artifact: in production it IS a materialized
    * table (the operator doc says so — a batch-refreshed table the
    * firehose probes), so its one-off build is storage provisioning, not
    * probe cost. Delegates to the shared (session, corpus)-keyed artifact
    * in DqlArtifacts (r17): the streaming DQL registry's dedup_minhash
    * probe reads the SAME index, so the corpus is banded once per
    * refresh no matter which surface probes it.
    */
  private def nearDupIndex(s: SparkSession, dir: String): DataFrame =
    DqlArtifacts.bandIndex(s, new TestdataStore(dir))

  /** band index over the EVAL split only — the fuzzy-decon probe target,
    * an artifact like [[nearDupIndex]] (in production the eval suite's
    * index is a tiny batch-refreshed artifact)
    */
  private val evalIndexMemo = new ArtifactMemo[(SparkSession, String), DataFrame]
  private def evalBandIndex(s: SparkSession, dir: String): DataFrame =
    evalIndexMemo((s, dir)) {
      Dedup.bandIndex(
        Tables(s, dir, "documents").where(col("doc_id") % 5 === 0))
    }

  /** The corpus duplicated-gram artifact, like the band index: both span
    * gates' docs say "batch-refreshed like the near-dup band index", and
    * that is what production does — the stream-static side must not
    * re-derive the corpus-wide count per micro-batch (it dominated
    * stream_scrub's CPU: ~11 s·32 of the 2.5 s wall was rebuilding the
    * artifact). Delegates to the shared (session, corpus, n)-keyed
    * artifact in DqlArtifacts (r17): the streaming DQL registry's scrub
    * spelling reads the SAME table, so the corpus-wide count is paid once
    * per refresh no matter which surface probes it.
    */
  private def dupGramsArtifact(s: SparkSession, dir: String): DataFrame =
    DqlArtifacts.dupGrams(s, new TestdataStore(dir), 8)

  /** the keep-first artifact — duplicated hashes WITH their packed
    * canonical keys — an artifact like [[dupGramsArtifact]]
    */
  private def dupCanonArtifact(s: SparkSession, dir: String): DataFrame =
    DqlArtifacts.dupGramsCanon(s, new TestdataStore(dir), 8)

  /** The FROZEN quality-classifier weights, memoized per (session, dir) —
    * the fastText-filter posture: the model is trained once on the
    * reference corpus (driver-local dim+2 decimals — plain literals, no
    * cache to sanction), then every arriving document is scored against
    * it row-locally. Scoring the replayed corpus keeps the batch
    * train-score oracle verbatim.
    */
  private val clfMemo = new ArtifactMemo[(SparkSession, String), Array[Double]]
  private def clfWeights(s: SparkSession, dir: String): Array[Double] =
    clfMemo((s, dir)) {
      Classifier.trainWeights(Tables(s, dir, "documents"),
        dim = 32, rounds = 10, lr = 0.001, minWords = 55)
        .map(_.doubleValue)
    }

  /** The frozen unigram LM per (session, dir) — the CCNet posture: the
    * model is trained (counted) once on the reference corpus, then the
    * firehose is scored against it via a stream-static join. Scoring the
    * SAME corpus keeps every token in-vocabulary, so the batch
    * self-scored oracle applies verbatim.
    */
  private val lmMemo = new ArtifactMemo[(SparkSession, String), DataFrame]
  private def unigramLm(s: SparkSession, dir: String): DataFrame =
    lmMemo((s, dir)) { TextOps.unigramModel(Tables(s, dir, "documents")) }

  /** The frozen per-language tercile cut table per (session, dir) —
    * batch-refreshed beside the LM, exactly CCNet's cutoff files.
    */
  private val pplCutsMemo = new ArtifactMemo[(SparkSession, String), DataFrame]
  private def pplCutsTable(s: SparkSession, dir: String): DataFrame =
    pplCutsMemo((s, dir)) {
      val dd = Tables(s, dir, "documents")
      Curation.pplCuts(dd, TextOps.unigramLogProb(dd, unigramLm(s, dir)))
    }

  /** Frozen TF-IDF corpus statistics (per-term document frequency +
    * corpus size) per (session, dir) — the batch-refreshed artifact the
    * online keyword extractor scores against, beside the LM and the cut
    * table.
    */
  private val tfidfStatsMemo =
    new ArtifactMemo[(SparkSession, String), (DataFrame, DataFrame)]
  private def tfidfStats(s: SparkSession,
                         dir: String): (DataFrame, DataFrame) =
    tfidfStatsMemo((s, dir)) {
      val dd = Tables(s, dir, "documents")
      val tf = Dedup.withWords(dd)
        .select(col("doc_id"), explode(col("w")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      (tf.groupBy("word").agg(count(lit(1)).as("df")),
        dd.agg(count(lit(1)).as("n_docs")))
    }

  /** The frozen DSIR log-ratio row (64-bucket hashed-unigram importance
    * table toward the English target) per (session, dir) —
    * batch-refreshed beside the LM/cuts/df artifacts.
    */
  private val dsirRsMemo = new ArtifactMemo[(SparkSession, String), DataFrame]
  private def dsirRatios(s: SparkSession, dir: String): DataFrame =
    dsirRsMemo((s, dir)) {
      Dsir.ratioRow(Dsir.logRatios(
        Tables(s, dir, "documents"), 64, col("lang") === "en"))
    }

  /** BPE encode on the firehose: merge rules trained OFFLINE on 4/5 of
    * the corpus (the frozen tokenizer artifact every serving system
    * ships), applied row-locally to the held-out fifth as it streams —
    * per-document token counts with zero state and zero shuffle. Oracle
    * = the batch encoder ladder's per-word tokens summed per document.
    */
  private def runBpeEncode(s: SparkSession, dir: String): DataFrame = {
    // the SHARED frozen merge table ([[PipelineQueries.bpeRules]] memo,
    // same (corpus, mod5 split, k) the batch encode gate reads): r18 fix
    // — this gate previously called Bpe.trainedRules directly, so every
    // run RE-TRAINED the tokenizer (4 argmax jobs + pins) inside the
    // timed window for model state the harness had already provisioned;
    // the r17 bench's one engine-attributable slow-line breach (5.45 s
    // official, 0.04 s execute) was mostly that re-train, not the encode
    val rules = PipelineQueries.bpeRules(s, dir, "mod5", 4)
      .map(r => (r._1, r._2))
    drain(s, Bpe.encodeCounts(replay(s, dir, "documents")
      .where(col("doc_id") % 5 === 0), rules), "append")
  }

  /** the online ANN gates' query vectors, from the embeddings replay */
  private def annQueries(s: SparkSession, dir: String): DataFrame =
    replay(s, dir, "embeddings").where(col("vec_id").isin(QueryIds: _*))
      .select("vec_id", "embedding")

  /** The packed IVF index (+ centroid row) per (session, dir) — the
    * materialized artifact an online-retrieval service probes.
    */
  private val simIndexMemo =
    new ArtifactMemo[(SparkSession, String), (DataFrame, DataFrame)]
  private def simIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    simIndexMemo((s, dir)) {
      SimStream.ivfIndex(Tables(s, dir, "embeddings"), nCells = 8)
    }

  /** 6-bit packed bucket index for the hybrid gate (the radius gate's
    * [[lshIdx]] uses 4 bits — different recall point, separate
    * artifact).
    */
  private val lshIdx6Memo = new ArtifactMemo[(SparkSession, String), DataFrame]
  private def lshIdx6(s: SparkSession, dir: String): DataFrame =
    lshIdx6Memo((s, dir)) {
      SimStream.lshIndex(Tables(s, dir, "embeddings"), bits = 6, dim = Dim)
    }

  /** The packed LSH bucket index per (session, dir) — the static side of
    * the online radius search.
    */
  private val lshIndexMemo = new ArtifactMemo[(SparkSession, String), DataFrame]
  private def lshIdx(s: SparkSession, dir: String): DataFrame =
    lshIndexMemo((s, dir)) {
      SimStream.lshIndex(Tables(s, dir, "embeddings"), bits = 4, dim = Dim)
    }

  /** The frozen PCA artifacts (per-dim mean row + 3-step top component)
    * per (session, dir) — the batch-refreshed pair the online projector
    * scores against.
    */
  private val pcaMemo =
    new ArtifactMemo[(SparkSession, String), (DataFrame, DataFrame)]
  private def pcaArtifacts(s: SparkSession,
                           dir: String): (DataFrame, DataFrame) =
    pcaMemo((s, dir)) {
      val emb = Tables(s, dir, "embeddings")
      // persisted first: the component trainer's eager mean job then
      // fills this cache instead of computing the mean a second time
      val mean = Pca.meanRow(emb)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (mean, Pca.topComponentRow(emb, Dim, 3))
    }

  private val sq8IndexMemo =
    new ArtifactMemo[(SparkSession, String), (DataFrame, DataFrame)]
  private def sq8Index(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    sq8IndexMemo((s, dir)) {
      SimStream.sq8Index(Tables(s, dir, "embeddings"), nCells = 8)
    }

  private val pqIndexMemo = new ArtifactMemo[(SparkSession, String),
    (DataFrame, DataFrame, DataFrame)]
  private def pqIndex(s: SparkSession,
                      dir: String): (DataFrame, DataFrame, DataFrame) =
    pqIndexMemo((s, dir)) {
      SimStream.pqIndex(Tables(s, dir, "embeddings"), nCells = 8, m = 8,
        ksub = 16, dim = Dim)
    }

  private val resPqIndexMemo = new ArtifactMemo[(SparkSession, String),
    (DataFrame, DataFrame, DataFrame)]
  private def resPqIndex(s: SparkSession,
                         dir: String): (DataFrame, DataFrame, DataFrame) =
    resPqIndexMemo((s, dir)) {
      SimStream.residualPqIndex(Tables(s, dir, "embeddings"), nCells = 8,
        m = 8, ksub = 16, dim = Dim)
    }

  /** The TRAINED online IVFADC index (Lloyd-trained residual
    * codebooks) — same artifact schema as [[resPqIndex]], so the search
    * kernels consume it unmodified.
    */
  private val resPqTrainedIndexMemo = new ArtifactMemo[(SparkSession, String),
    (DataFrame, DataFrame, DataFrame)]
  private def resPqTrainedIndex(s: SparkSession,
                                dir: String): (DataFrame, DataFrame, DataFrame) =
    resPqTrainedIndexMemo((s, dir)) {
      SimStream.residualPqIndexTrained(Tables(s, dir, "embeddings"),
        nCells = 8, m = 8, ksub = 16, dim = Dim, iters = 2)
    }

  /** Online ANN gate: the query set searched against the packed IVF index
    * of the same corpus — results must match the batch IVF search, so the
    * batch DuckDB oracle applies with the same parameters.
    */
  private def runSim(s: SparkSession, dir: String, nProbe: Int): DataFrame = {
    val q = annQueries(s, dir)
    val (packed, cents) = simIndex(s, dir)
    drain(s,
      if (nProbe == 1) SimStream.topKAgainstIvfIndex(q, packed, cents, k = 5)
      else SimStream.topKAgainstIvfIndexProbed(q, packed, cents, k = 5,
        nProbe = nProbe), "append")
  }

  /** Online quantized ANN gate: the SQ8 packed index — results must match
    * the batch quantized-only ranking
    * ([[graft.pipeline.Similarity.ivfSq8QuantTopK]]).
    */
  private def runSimSq8(s: SparkSession, dir: String,
                        nProbe: Int): DataFrame = {
    val q = annQueries(s, dir)
    val (packed, cents) = sq8Index(s, dir)
    drain(s,
      if (nProbe == 1) SimStream.topKAgainstSq8Index(q, packed, cents, k = 5)
      else SimStream.topKAgainstSq8IndexProbed(q, packed, cents, k = 5,
        nProbe = nProbe), "append")
  }

  /** Online product-quantized ANN gate: the codes-only PQ packed index —
    * results must match the batch PQ ranking
    * ([[graft.pipeline.Similarity.ivfPqTopK]]).
    */
  private def runSimPq(s: SparkSession, dir: String,
                       nProbe: Int): DataFrame = {
    val q = annQueries(s, dir)
    val (packed, cents, cbs) = pqIndex(s, dir)
    drain(s,
      if (nProbe == 1) SimStream.topKAgainstPqIndex(q, packed, cents, cbs,
        k = 5, m = 8, dim = Dim)
      else SimStream.topKAgainstPqIndexProbed(q, packed, cents, cbs, k = 5,
        m = 8, dim = Dim, nProbe = nProbe), "append")
  }

  /** Online PQ ANN with the full-precision rerank: the codes-only PQ
    * index selects the shortlist, the full-precision packed index (same
    * centroids, cold stream-static join) re-scores it row-locally —
    * TRUE-cosine rankings from the stream, hash-matching the batch
    * [[graft.pipeline.Similarity.ivfPqRerankTopK]] at the batch gate's
    * own (k, rerank).
    */
  private def runSimPqRerank(s: SparkSession, dir: String,
                             nProbe: Int): DataFrame = {
    val q = annQueries(s, dir)
    val (packedQ, cents, cbs) = pqIndex(s, dir)
    val (packedF, _) = simIndex(s, dir)
    drain(s,
      if (nProbe == 1) SimStream.topKAgainstPqIndexReranked(q, packedQ,
        packedF, cents, cbs, k = 5, m = 8, dim = Dim, rerank = 15)
      else SimStream.topKAgainstPqIndexProbedReranked(q, packedQ, packedF,
        cents, cbs, k = 5, m = 8, dim = Dim, rerank = 15, nProbe = nProbe),
      "append")
  }

  /** Online residual-PQ (IVFADC) ANN gate: the residual codes-only index
    * with per-(query, cell) ADC tables — results must match the batch
    * residual ranking
    * ([[graft.pipeline.Similarity.ivfPqResidualTopKProbed]]).
    */
  private def runSimPqResidual(s: SparkSession, dir: String,
                               nProbe: Int): DataFrame = {
    val q = annQueries(s, dir)
    val (packed, cents, scbL) = resPqIndex(s, dir)
    drain(s,
      if (nProbe == 1) SimStream.topKAgainstResidualPqIndex(q, packed, cents,
        scbL, k = 5, m = 8, dim = Dim)
      else SimStream.topKAgainstResidualPqIndexProbed(q, packed, cents, scbL,
        k = 5, m = 8, dim = Dim, nProbe = nProbe), "append")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap

  def oracle: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap

  // built once: the bench looks a gate up through `queries` inside its
  // timed window, and the rows carry every oracle string
  private lazy val gates: Seq[Gate] = {
    // replaying the corpus against its own band index flags the batch
    // minhash pair set, both directions
    val bothWayPairs =
      s"""SELECT doc_id, match_id, jaccard FROM (
         |  SELECT doc_a AS doc_id, doc_b AS match_id, jaccard
         |  FROM (${Dedup.minhashPairsSql(0.5)})
         |  UNION ALL
         |  SELECT doc_b AS doc_id, doc_a AS match_id, jaccard
         |  FROM (${Dedup.minhashPairsSql(0.5)}))""".stripMargin
    val avgDql = "SELECT avg('purchase'.* BUCKET 'testdata', 1 m) LAST 1 h"
    val multiRawDql =
      "SELECT 'purchase'.* BUCKET 'testdata', 'error'.* BUCKET 'testdata' " +
        "LAST 1 h"
    val multiDql = "SELECT avg('purchase'.* BUCKET 'testdata', 1 m), " +
      "max('purchase'.* BUCKET 'testdata', 1 m) LAST 1 h"
    val multiConfDql = "SELECT avg('purchase'.* BUCKET 'testdata', 1 m), " +
      "count_above_conf('purchase'.* BUCKET 'testdata', 0.5, 1 m) LAST 1 h"
    val series = s"WITH series AS (${SeriesOps.seriesSql})"
    Seq(
      // ---- events replay: session, funnel and board operators

      // session_window state ([[graft.streaming.EventStream.sessionize]],
      // the batch `events_sessionize` gap) ≡ the batch lag/cumsum session
      // derivation; the sentinel's own session (user 0 at SentinelMs)
      // never closes and is additionally bounded out
      Gate("stream_sessionize", (s, d) => drain(s, EventStream.sessionize(
          replay(s, d, "events").select(col("ts"), col("user_id"),
            col("value")), EventQueries.SessionGapMs, "0 seconds"), "append")
          .where(col("session_start") < SentinelMs),
        Sessions.sessionizeStreamSql(EventQueries.SessionGapMs)),
      // per-user keyed funnel state + live step counts ≡ the batch
      // strictly-ordered funnel: the replay arrives in one ordered batch,
      // and every step converts at least one user in the testdata, so the
      // zero-converter emission difference never bites. The sentinel (a
      // 'purchase' for user 0) is excluded: it could convert user 0's
      // last step, and the batch oracle never sees it
      Gate("stream_funnel", (s, d) => drain(s, EventStream.funnel(
          replay(s, d, "events").select(col("ts"), col("user_id"),
            col("event_type")).where(real),
          EventQueries.FunnelSteps, "0 seconds"), "update"),
        Sessions.funnelSql(EventQueries.FunnelSteps)),
      // with the 3-day conversion deadline — the online windowFunnel ≡ the
      // batch deadline funnel
      Gate("stream_funnel_window", (s, d) => drain(s, EventStream.funnelWithin(
          replay(s, d, "events").select(col("ts"), col("user_id"),
            col("event_type")).where(real),
          EventQueries.FunnelSteps, "0 seconds", windowMs = 259200000L),
          "update"),
        Sessions.funnelWithinSql(EventQueries.FunnelSteps, 259200000L)),
      // per-user last-event state emits within-session (from, to) steps, a
      // grouped count keeps the live matrix ≡ the batch session-bounded
      // [[graft.ops.Sessions.transitions]]
      Gate("stream_transitions", (s, d) => drain(s, EventStream.transitions(
          userEvents(s, d), EventQueries.SessionGapMs, "0 seconds"), "update"),
        Sessions.transitionsSql(EventQueries.SessionGapMs)),
      Gate("stream_pivot", runPivot, EventQueries.oracle("events_pivot")),
      // last-event keyed state with the (ts, event_id) frontier ≡ the batch
      // `events_features` rows (per-user ts ties fold in event_id order,
      // the batch window's tie order)
      Gate("stream_features", (s, d) => drain(s,
          EventStream.lagFeatures(userEvents(s, d), "0 seconds"), "append"),
        EventQueries.oracle("events_features")),
      // purchases credited against the per-user last-click keyed state the
      // moment they arrive ≡ the batch last-touch sweep
      Gate("stream_attribution", (s, d) => drain(s, EventStream.attribution(
          userEvents(s, d), "click", "purchase", windowMs = 259200000L,
          "0 seconds"), "append"),
        Sessions.attributionSql("click", "purchase", 259200000L)),
      Gate("stream_active", runActive, Sessions.activeUsersSql(86400000L, 7)),
      // complete-mode per-user moments against the frozen frontier ≡ the
      // batch rfm board
      Gate("stream_rfm", (s, d) => drain(s, Sessions.rfmOnline(
          replay(s, d, "events").select(col("ts_ms"), col("user_id"),
            col("value"), col("event_type"))
            .where(col("event_type") === "purchase" &&
              col("ts_ms") < SentinelMs), rfmNow(s, d)), "complete"),
        Sessions.rfmSql),
      // stateless packed-index probe ≡ DuckDB's native ASOF JOIN
      Gate("stream_asof", runAsof,
        """WITH l AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
          |               value
          |           FROM events WHERE event_type = 'purchase'),
          |r AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS rts,
          |             value AS pv
          |      FROM events WHERE event_type = 'click')
          |SELECT l.user_id, l.ts_ms, l.value, r.pv AS prior_click
          |FROM l ASOF LEFT JOIN r
          |  ON l.user_id = r.user_id AND r.rts <= l.ts_ms
          |ORDER BY l.user_id, l.ts_ms""".stripMargin),

      // ---- keyed SeriesStream state over the purchase replay

      // trailing-10 z-score
      Gate("stream_zscore",
        keyed(SeriesStream.zscore(_, _, n = 10, threshold = 2.0)),
        rollingSql(false, Rolling.zscoreSql(10, 2.0))),
      // Page's drift score: the state carries the EXACT scale-10 decimal,
      // so the replay ≡ the batch closed form bit-for-bit
      Gate("stream_cusum",
        keyed(SeriesStream.cusum(_, _, ref = 60.0, threshold = 100.0)),
        rollingSql(false, Rolling.cusumSql(60.0, 100.0))),
      // level+trend smoothed online, O(1) state per series
      Gate("stream_holt", keyed(SeriesStream.holt),
        rollingSql(true, Rolling.holtSql)),
      // the dyadic trailing-8 smoother
      Gate("stream_ewma", keyed(SeriesStream.ewma(_, _, n = 8)),
        rollingSql(false, Rolling.ewmaSql(8))),
      // last-point state, PromQL counter-reset semantics
      Gate("stream_rate", keyed(SeriesStream.rate),
        rollingSql(false, Rolling.rateSql)),
      // robust trailing-window MAD anomaly
      Gate("stream_mad",
        keyed(SeriesStream.mad(_, _, n = 15, threshold = 3.0)),
        rollingSql(false, Rolling.madSql(15, 3.0))),

      // ---- series DQL over the events replay

      // single-stage path (update mode): windowed decimal-exact avg over
      // raw events
      dql("stream_avg", avgDql, "update", Set(Unslotted),
        s"""SELECT event_type || '.' || CAST(user_id AS VARCHAR) AS metric,
           |       ${Exact.wstartSql("CAST(epoch_ms(ts) AS BIGINT)", WinMs)} AS ws,
           |       ${Exact.davgSql("value")} AS value
           |FROM events WHERE event_type = 'purchase'
           |GROUP BY 1, 2""".stripMargin),
      // the DEFAULT slot-exact chained plan: slot-then-window mean, the
      // batch series model (same derivation as the batch gates' series CTE)
      dql("stream_avg_slots", avgDql, "append", Set(),
        s"""$series
           |SELECT metric, ${Exact.wstartSql("ts_ms", WinMs)} AS ws,
           |       ${Exact.davgSql("value")} AS value
           |FROM series WHERE mtype = 'purchase'
           |GROUP BY 1, 2""".stripMargin),
      // RAW select (no aggregation): the slot rows themselves — the series
      // CTE IS the batch leaf's slot collapse
      dql("stream_dql_raw", "SELECT 'purchase'.* BUCKET 'testdata' LAST 1 h",
        "append", Set(),
        s"""$series
           |SELECT metric, ts_ms AS ws, value
           |FROM series WHERE mtype = 'purchase'""".stripMargin),
      // pointwise transform over the raw slot rows
      dql("stream_dql_raw_trans",
        "SELECT mul('purchase'.* BUCKET 'testdata', 3) LAST 1 h", "append",
        Set(),
        s"""$series
           |SELECT metric, ts_ms AS ws, value * 3 AS value
           |FROM series WHERE mtype = 'purchase'""".stripMargin),
      // pointwise combinator over raw slot rows: per-slot pivot + the
      // quotient fold (div-by-zero -> div-by-one, null propagates). The
      // glob child matches the staged sentinel (purchase.0), so the
      // watermark closes the final real window - a narrow two-series pick
      // would filter the sentinel below the watermark node and strand it
      dql("stream_dql_raw_comb",
        "SELECT quotient('purchase'.* BUCKET 'testdata', " +
          "'purchase'.'1' BUCKET 'testdata') LAST 1 h", "append", Set(),
        s"""$series,
           |p AS (SELECT ts_ms,
           |        MAX(CASE WHEN mtype = 'purchase' THEN value END) AS c0,
           |        MAX(CASE WHEN metric = 'purchase.1' THEN value END) AS c1
           |      FROM series WHERE mtype = 'purchase'
           |      GROUP BY 1)
           |SELECT 'quotient' AS metric, ts_ms AS ws,
           |       CASE WHEN c1 = 0.0 THEN c0 ELSE c0 / c1 END AS value
           |FROM p""".stripMargin),
      // SHIFT BY 90 s: windows computed on the ORIGINAL grid, labels
      // re-stamped +90 s (the batch Compiler.run form) - the non-multiple
      // shift pins that the stream does not re-bucket shifted events
      dql("stream_dql_shift",
        "SELECT avg('purchase'.* BUCKET 'testdata', 1 m) SHIFT BY 90 s LAST 1 h",
        "append", Set(),
        s"""$series
           |SELECT metric,
           |       ${Exact.wstartSql("ts_ms", WinMs)} + 90000 AS ws,
           |       ${Exact.davgSql("value")} AS value
           |FROM series WHERE mtype = 'purchase'
           |GROUP BY metric, ${Exact.wstartSql("ts_ms", WinMs)}""".stripMargin),
      // all-raw funnel: each selector's slot rows under its default
      // (unparsed-selector) name - the tag-explode fused form, one shared
      // collapse, no stateful union
      dql("stream_multi_raw", multiRawDql, "append", Set(Named), {
        val Seq(nP, nE) = selectorNames(multiRawDql).map(_.replace("'", "''"))
        s"""$series
           |SELECT '$nP' AS name, metric, ts_ms AS ws, value
           |FROM series WHERE mtype = 'purchase'
           |UNION ALL
           |SELECT '$nE' AS name, metric, ts_ms AS ws, value
           |FROM series WHERE mtype = 'error'""".stripMargin
      }),
      // GROUP BY $tag USING avg: per-slot davg across the group's member
      // series (group window = resolution), slot-exact chained; metric =
      // the tag value
      dql("stream_group_avg",
        "SELECT 'purchase' FROM 'testdata' GROUP BY $'graft':'type' USING avg " +
          "LAST 1 h", "append", Set(),
        s"""$series
           |SELECT mtype AS metric, ts_ms AS ws,
           |       ${Exact.davgSql("value")} AS value
           |FROM series WHERE mtype = 'purchase'
           |GROUP BY 1, 2""".stripMargin),
      // nested aggregation: the resolution-coarsening chain as a chained
      // window-over-window streaming aggregation (r15 lift) — 1 m means
      // summed into 5 m windows, the outer group reads the inner windows'
      // starts
      dql("stream_dql_nested",
        "SELECT sum(avg('purchase'.* BUCKET 'testdata', 1 m), 5 m) LAST 1 h",
        "append", Set(),
        s"""$series,
           |h AS (SELECT metric, ${Exact.wstartSql("ts_ms", WinMs)} AS ws,
           |             ${Exact.davgSql("value")} AS value
           |      FROM series WHERE mtype = 'purchase' GROUP BY 1, 2)
           |SELECT metric, ${Exact.wstartSql("ws", 5 * WinMs)} AS ws,
           |       ${Exact.dsumSql("value")} AS value
           |FROM h GROUP BY 1, 2""".stripMargin),
      // aggregation OVER a GROUP BY lookup: the grouped per-slot sum under
      // the 'purchase' group feeds a 5 m windowed max through the same chain
      dql("stream_dql_group_agg",
        "SELECT max('purchase' FROM 'testdata' GROUP BY $'graft':'type' " +
          "USING sum, 5 m) LAST 1 h", "append", Set(),
        s"""$series,
           |g AS (SELECT mtype AS metric, ts_ms,
           |             ${Exact.dsumSql("value")} AS value
           |      FROM series WHERE mtype = 'purchase' GROUP BY 1, 2)
           |SELECT metric, ${Exact.wstartSql("ts_ms", 5 * WinMs)} AS ws,
           |       MAX(value) AS value
           |FROM g GROUP BY 1, 2""".stripMargin),
      // complete-mode leader board: per-series running mean over RAW
      // arrivals, top 3 with the (score desc, metric) tiebreak; ws =
      // slot-floored latest event. It scores the 'error' series so the
      // staged 'purchase' sentinel never enters a score (the board needs no
      // watermark — complete mode re-emits every trigger)
      dql("stream_dql_top",
        "SELECT 'error'.* BUCKET 'testdata' LAST 1 h TOP 3 BY avg()",
        "complete", Set(Unslotted, Board),
        s"""WITH sc AS (
           |  SELECT event_type || '.' || CAST(user_id AS VARCHAR) AS metric,
           |         (MAX(CAST(epoch_ms(ts) AS BIGINT)) // 1000) * 1000 AS ws,
           |         ${Exact.davgSql("value")} AS value
           |  FROM events WHERE event_type = 'error' GROUP BY 1)
           |SELECT metric, ws, value FROM sc
           |ORDER BY value DESC, metric LIMIT 3""".stripMargin),
      // fused same-window combinator (per-child filtered aggregates in ONE
      // stateful operator) over an order-sensitive fold: diff(sum, avg)
      // over the slot values of all purchase series per 1 m window; both
      // children share the selector so neither is null
      dql("stream_comb_diff",
        "SELECT diff(sum('purchase'.* BUCKET 'testdata', 1 m), " +
          "avg('purchase'.* BUCKET 'testdata', 1 m)) LAST 1 h", "append", Set(),
        s"""$series,
           |w AS (SELECT ${Exact.wstartSql("ts_ms", WinMs)} AS ws,
           |             ${Exact.dsumSql("value")} AS c0,
           |             ${Exact.davgSql("value")} AS c1
           |      FROM series WHERE mtype = 'purchase' GROUP BY 1)
           |SELECT 'diff' AS metric, ws, c0 - c1 AS value FROM w""".stripMargin),
      // the `*_conf` confidence-channel family (single-stage, update mode:
      // presence needs no collapse). count_above_conf 0.5: presence is
      // {0,1} per slot, so the count of qualifying slots is the count of
      // PRESENT slots in the window
      dql("stream_conf_count",
        "SELECT count_above_conf('purchase'.'1' BUCKET 'testdata', 0.5, 1 m) " +
          "LAST 1 h", "update", Set(),
        s"""$series
           |SELECT metric, ${Exact.wstartSql("ts_ms", WinMs)} AS ws,
           |       CAST(COUNT(*) AS BIGINT) AS value
           |FROM series WHERE mtype = 'purchase' AND muser = 1
           |GROUP BY 1, 2""".stripMargin),
      // keyed state ABOVE the aggregation (flatMapGroupsWithState): diff to
      // the previous PRESENT window per metric; the head point carries its
      // successor's diff (v'(0)=v'(1)), a single-window series yields NULL.
      // Safe against the sentinel: every purchase series in the testdata
      // has ≥2 occupied windows, and the sentinel's own diff lands at
      // SentinelMs and is excluded
      dql("stream_derivate",
        "SELECT derivate(avg('purchase'.* BUCKET 'testdata', 1 m)) LAST 1 h",
        "append", Set(),
        s"""$series,
           |w AS (SELECT metric, ${Exact.wstartSql("ts_ms", WinMs)} AS ws,
           |             ${Exact.davgSql("value")} AS value
           |      FROM series WHERE mtype = 'purchase' GROUP BY 1, 2),
           |d AS (SELECT metric, ws,
           |             value - lag(value) OVER
           |               (PARTITION BY metric ORDER BY ws) AS dv
           |      FROM w)
           |SELECT metric, ws,
           |       COALESCE(dv, lead(dv) OVER
           |         (PARTITION BY metric ORDER BY ws)) AS value
           |FROM d""".stripMargin),
      // fused §2.7 histogram reduction: int-round, DROP outside [0, htv]
      // (htv=100 bites — slot values reach ~185), discrete p90 per window
      dql("stream_hist",
        "SELECT percentile(histogram('purchase'.* BUCKET 'testdata', 100, 3, " +
          "1 m), 0.9) LAST 1 h", "append", Set(),
        s"""$series
           |SELECT metric, ${Exact.wstartSql("ts_ms", WinMs)} AS ws,
           |       CAST(list_sort(list(CAST(ROUND(value, 0) AS BIGINT)))
           |         [GREATEST(1, CAST(CEIL(0.9 * COUNT(value)) AS BIGINT))]
           |         AS DOUBLE) AS value
           |FROM series
           |WHERE mtype = 'purchase'
           |  AND CAST(ROUND(value, 0) AS BIGINT) BETWEEN 0 AND 100
           |GROUP BY 1, 2""".stripMargin),
      // fused multi-selector funnel (dqe_funnel merge): one row per
      // selector per (metric, window), each under its batch default name
      // (unparsed selector text)
      dql("stream_multi", multiDql, "append", Set(Named), {
        val Seq(nAvg, nMax) = selectorNames(multiDql).map(_.replace("'", "''"))
        s"""$series,
           |w AS (SELECT metric, ${Exact.wstartSql("ts_ms", WinMs)} AS ws,
           |             ${Exact.davgSql("value")} AS vavg, MAX(value) AS vmax
           |      FROM series WHERE mtype = 'purchase' GROUP BY 1, 2)
           |SELECT '$nAvg' AS name, metric, ws, vavg AS value FROM w
           |UNION ALL
           |SELECT '$nMax' AS name, metric, ws, vmax AS value FROM w""".stripMargin
      }),
      // mixed conf/value funnel: the avg selector aggregates slot values,
      // the conf selector counts PRESENT slots (presence {0,1} > 0.5 ⇔ the
      // slot exists in the series CTE); the stream's stack() coerces the
      // BIGINT count to the union's common DOUBLE, so the oracle casts too
      dql("stream_multi_conf", multiConfDql, "append", Set(Named), {
        val Seq(nAvg, nCnt) =
          selectorNames(multiConfDql).map(_.replace("'", "''"))
        s"""$series,
           |w AS (SELECT metric, ${Exact.wstartSql("ts_ms", WinMs)} AS ws,
           |             ${Exact.davgSql("value")} AS vavg,
           |             CAST(COUNT(*) AS DOUBLE) AS vcnt
           |      FROM series WHERE mtype = 'purchase' GROUP BY 1, 2)
           |SELECT '$nAvg' AS name, metric, ws, vavg AS value FROM w
           |UNION ALL
           |SELECT '$nCnt' AS name, metric, ws, vcnt AS value FROM w""".stripMargin
      }),

      // ---- pipeline DQL over the documents replay: the same
      // parse→resolve path as the batch dql_pipeline_* gates, dispatched
      // to the row-local / frozen-artifact stream operators; the batch
      // mirrors are the oracles

      dql("stream_dql_pipeline_quality", "SELECT quality() LAST 30 d",
        "append", Set(Pipeline), TextOps.qualitySql),
      dql("stream_dql_pipeline_classifier",
        "SELECT quality_trained(32, 10, 0.001, 55, 0.1) LAST 30 d", "append",
        Set(Pipeline), Classifier.heldOutScoreSql(32, 10, 0.001, 55, 0.1)),
      // arrivals probed against the frozen corpus band index flag the
      // batch pair set in both directions (the stream_neardup identity)
      dql("stream_dql_pipeline_dedup", "SELECT dedup_minhash(0.5) LAST 30 d",
        "append", Set(Pipeline), bothWayPairs),
      // span scrubs from the language: the frozen (session, corpus, n)
      // gram artifacts probed per arrival — update mode like the direct
      // stream_scrub gates (one doc-keyed re-group)
      dql("stream_dql_pipeline_scrub", "SELECT scrub(8) LAST 30 d", "update",
        Set(Pipeline), Dedup.substringScrubSql(8)),
      dql("stream_dql_pipeline_scrub_keepfirst",
        "SELECT scrub_keepfirst(8) LAST 30 d", "update", Set(Pipeline),
        Dedup.substringScrubKeepFirstSql(8)),

      // ---- documents replay: DocStream and the batch text operators

      // exact dedup — dropDuplicatesWithinWatermark on the text hash; the
      // gate output is the kept hash SET (which duplicate wins within a
      // replay batch is order-dependent, the set is not)
      Gate("stream_dedup", (s, d) => drain(s,
          DocStream.dedupExact(replay(s, d, "documents"), "1 minute")
            .select("text_hash"), "append").distinct(),
        "SELECT DISTINCT md5(text) AS text_hash FROM documents"),
      // stream-static near-dup: the replay probed against the band index
      // of the SAME corpus — every flagged (probe, corpus) pair is a batch
      // minhash pair, in both directions (self-matches are excluded by the
      // operator)
      Gate("stream_neardup", (s, d) => drain(s, DocStream.nearDupAgainstIndex(
          replay(s, d, "documents"), nearDupIndex(s, d), 0.5, "1 minute")
          .select("doc_id", "match_id", "jaccard"), "append"),
        bothWayPairs),
      // substring-span probe: arriving documents' 8-token window hashes
      // checked against the corpus duplicated-gram artifact — duplicated
      // window starts emit the moment the document lands (stateless
      // stream-static equi-join)
      Gate("stream_spans", (s, d) => drain(s, DocStream.spanHitsAgainstGrams(
          replay(s, d, "documents"), dupGramsArtifact(s, d), 8), "append"),
        Dedup.spanHitsSql(8)),
      // span SCRUB: arriving documents rewritten in place against the gram
      // artifact — row-local island merge, one doc-keyed re-group (update
      // mode); it emits once per replayed document, so the batch rewrite
      // oracle applies verbatim
      Gate("stream_scrub", (s, d) => drain(s, DocStream.scrubAgainstGrams(
          replay(s, d, "documents"), dupGramsArtifact(s, d), 8), "update"),
        Dedup.substringScrubSql(8)),
      // keep-one semantics online: the artifact carries the canonical
      // keys, so the replayed corpus scrubs exactly as the batch form
      Gate("stream_scrub_keepfirst", (s, d) => drain(s,
          DocStream.scrubKeepFirstAgainstGrams(replay(s, d, "documents"),
            dupCanonArtifact(s, d), 8), "update"),
        Dedup.substringScrubKeepFirstSql(8)),
      // stateless decontamination: the train split (doc_id % 97 ≠ 0)
      // flagged against the eval split's broadcast shingle set — the batch
      // decon_ngram semantics
      Gate("stream_decon", (s, d) => drain(s, DocStream.decontaminate(
          replay(s, d, "documents").where(col("doc_id") % 97 =!= 0),
          Tables(s, d, "documents").where(col("doc_id") % 97 === 0), 3),
          "append"),
        Curation.decontaminateSql(3)),
      // FUZZY decontamination: the train split probed against the eval
      // split's band index ([[graft.streaming.DocStream.nearDupAgainstIndex]]
      // aimed at the eval index) ≡ the batch `decon_fuzzy` pair set:
      // banding is a per-document property, so the crossing pairs are
      // identical
      Gate("stream_decon_fuzzy", (s, d) => drain(s,
          DocStream.nearDupAgainstIndex(
            replay(s, d, "documents").where(col("doc_id") % 5 =!= 0),
            evalBandIndex(s, d), 0.5, "1 minute")
            .select(col("doc_id"), col("match_id").as("eval_id"),
              col("jaccard")), "append"),
        Curation.decontaminateFuzzySql(0.5, 5)),
      // the batch text-quality operator UNCHANGED on the stream: TextOps
      // transforms are `DataFrame => DataFrame` projections, so the same
      // code path serves both engines (stateless, no watermark needed)
      Gate("stream_quality", (s, d) =>
        drain(s, TextOps.quality(replay(s, d, "documents")), "append"),
        TextOps.qualitySql),
      Gate("stream_bpe_encode", runBpeEncode, Bpe.encodeCountsSql(4,
        "doc_id % 5 <> 0", "doc_id % 5 = 0")),
      // live per-source quality scoreboard (complete mode republishes the
      // board each trigger); the final board ≡ the batch scoreboard
      Gate("stream_source_quality", (s, d) => drain(s,
          TextOps.sourceQuality(replay(s, d, "documents"), threshold = 0.46),
          "complete"),
        TextOps.sourceQualitySql(0.46)),
      // live word-count leaderboard (complete mode republishes the current
      // top-k each trigger) ≡ the batch occurrence counts (doc frequency
      // needs a distinct aggregate, unsupported over streams —
      // occurrence-only by design)
      Gate("stream_vocab", (s, d) => drain(s,
          DocStream.vocabTopK(replay(s, d, "documents"), 50), "complete"),
        """WITH ws AS (SELECT doc_id, string_split(trim(text), ' ') AS w
          |            FROM documents),
          |tok AS (SELECT s AS word FROM ws, unnest(w) AS t(s))
          |SELECT word, COUNT(*) AS n_occ FROM tok GROUP BY 1
          |ORDER BY n_occ DESC, word ASC LIMIT 50""".stripMargin),
      // the batch Gopher rule battery, row-local and stateless
      Gate("stream_gopher", (s, d) => drain(s, TextOps.gopherRules(
          replay(s, d, "documents"), stops = TextOps.Stopwords), "append"),
        TextOps.gopherRulesSql(stopList = TextOps.Stopwords)),
      // per-arriving-document mean unigram log-prob against the frozen LM ≡
      // batch self-scoring. The token re-group keys on doc_id (update
      // mode: a document's tokens all ride one input row, so each doc
      // emits exactly once per replay; a production stream would watermark
      // the per-doc aggregation to evict its state)
      Gate("stream_logprob", (s, d) => drain(s, TextOps.unigramLogProb(
          replay(s, d, "documents").select("doc_id", "text"),
          unigramLm(s, d)), "update"),
        TextOps.unigramLogProbSql),
      // online CCNet bucketing: scored against the frozen LM and labeled
      // against the frozen cuts — self-scored on the replay corpus, so the
      // batch bucket oracle applies verbatim
      Gate("stream_ppl_buckets", (s, d) => drain(s, DocStream.pplLabel(
          replay(s, d, "documents").select("doc_id", "lang", "text"),
          unigramLm(s, d), pplCutsTable(s, d)), "update"),
        Curation.pplBucketsSql(TextOps.unigramLogProbSql)),
      // online TF-IDF keywords against the frozen df table ≡ the batch
      // self-scored oracle
      Gate("stream_tfidf", (s, d) => {
          val (dfreq, n) = tfidfStats(s, d)
          drain(s, DocStream.tfidfTopK(
            replay(s, d, "documents").select("doc_id", "text"), dfreq, n,
            k = 3), "update")
        }, TextOps.tfidfTopKSql(3)),
      // online DSIR admission: each arriving doc scores row-locally against
      // the frozen ratio row and is admitted when its Gumbel-perturbed
      // importance key clears the fixed bar
      Gate("stream_dsir", (s, d) => drain(s, Dsir.score(
          replay(s, d, "documents").select("doc_id", "text"), dsirRatios(s, d))
          .where(col("key") > 2.0), "append"),
        Dsir.admitSql(64, "lang = 'en'", 2.0)),
      // online per-source quota admission: first-arrival counter state, two
      // longs per source; the doc_id-ordered replay makes the row_number
      // oracle exact
      Gate("stream_quota", (s, d) => drain(s, DocStream.quotaAdmit(
          replay(s, d, "documents").select("source", "doc_id"), "source", 15),
          "append"),
        DocStream.quotaAdmitSql("source", 15)),
      // row-local n-gram repetition folds, stateless
      Gate("stream_repetition", (s, d) =>
        drain(s, TextOps.repetition(replay(s, d, "documents")), "append"),
        TextOps.repetitionSql),
      // row-local unigram entropy, stateless (the run-boundary fold carries
      // no cross-row state)
      Gate("stream_entropy", (s, d) =>
        drain(s, TextOps.entropy(replay(s, d, "documents")), "append"),
        TextOps.entropySql),
      // chunking into training windows as documents arrive: row-local
      // fan-out, zero state
      Gate("stream_chunks", (s, d) => drain(s,
          TextOps.chunks(replay(s, d, "documents"), n = 32, stride = 24),
          "append"),
        TextOps.chunksSql(32, 24)),
      // feature hashing: sparse fixed-width features, row-local, zero state
      Gate("stream_hash_features", (s, d) => drain(s,
          TextOps.hashFeatures(replay(s, d, "documents"), dim = Dim), "append"),
        TextOps.hashFeaturesSql(64)),
      // each arriving document scored against the frozen classifier —
      // row-local margin + sigmoid against literal weights; the replay
      // covers the training corpus, so the batch train+score oracle applies
      Gate("stream_classifier", (s, d) => drain(s, Classifier.scoreWith(
          replay(s, d, "documents"), dim = 32, minWords = 55,
          clfWeights(s, d)), "append"),
        Classifier.trainScoreSql(32, 10, 0.001, 55)),
      // PII scrubbing: the batch redaction over the batch synthetic-PII
      // injection, both row-local
      Gate("stream_redact", (s, d) => drain(s, TextOps.redactPii(
          TextOps.withSyntheticPii(replay(s, d, "documents"))), "append"),
        TextOps.redactPiiSql),
      // [[graft.pipeline.Curation.sampleStratified]] is a deterministic
      // per-row filter (md5 threshold keyed on doc_id), so the batch
      // operator runs on the stream verbatim at the batch gate's rates
      Gate("stream_sample", (s, d) => drain(s, Curation.sampleStratified(
          replay(s, d, "documents"), "lang",
          Map("en" -> 0.5, "es" -> 0.25, "de" -> 0.1), 0.2)
          .select("doc_id", "lang", "source"), "append"),
        Curation.sampleStratifiedSql("lang",
          Map("en" -> 0.5, "es" -> 0.25, "de" -> 0.1), 0.2,
          "doc_id, lang, source")),
      // the online admission capstone: per-arriving-document verdicts
      // (dup / low_quality / kept) with a deterministic first-arrival dedup
      // leg — the streaming analog of the batch `corpus_decisions` gate
      Gate("stream_decisions", (s, d) => drain(s, DocStream.decisions(
          replay(s, d, "documents"), "1 minute", retainMs = 60000L,
          qualityThreshold = 0.46), "append"),
        Corpus.streamDecisionsSql(0.46)),

      // ---- embeddings replay: online retrieval against frozen indexes

      // radius search: arriving queries probe the packed bucket index;
      // every corpus vector with cosine ≥ the threshold streams out ≡ the
      // batch bucketed range search (plain threshold, no rank)
      Gate("stream_range", (s, d) => drain(s, SimStream.rangeAgainstLshIndex(
          replay(s, d, "embeddings").where(col("vec_id") < 5)
            .select("vec_id", "embedding"),
          lshIdx(s, d), bits = 4, dim = Dim, minCos = 0.1), "append"),
        Similarity.rangeSearchLshSql(4, Dim, 0.1,
          "SELECT vec_id FROM embeddings WHERE vec_id < 5")),
      // hybrid retrieval: each query probes BOTH the IVF cell index and the
      // LSH bucket index, ranks each list in-row, and RRF-fuses — one
      // stateless row, two stream-static joins ≡ the batch fusion
      Gate("stream_rrf", (s, d) => {
          val q = annQueries(s, d)
          val (packedIvf, cents) = simIndex(s, d)
          drain(s, SimStream.rrfAgainstIndexes(q, packedIvf,
            cents, lshIdx6(s, d), bits = 6, dim = Dim, kEach = 10, k = 5),
            "append")
        },
        Similarity.rrfFuseSql(Similarity.ivfTopKSql(8, Dim, 10, QueryIdsSql),
          Similarity.lshTopKSql(6, Dim, 10, QueryIdsSql), 5)),
      // embedding-drift monitor: per-dimension corpus moments, complete
      // mode — state is bounded by the dimensionality, never the stream
      Gate("stream_dim_stats", (s, d) => drain(s,
          Similarity.dimStats(replay(s, d, "embeddings")), "complete"),
        Similarity.dimStatsSql(Dim)),
      // PCA projection/residual: each vector scores row-locally against the
      // frozen (mean, component) broadcasts — stateless, zero shuffle
      Gate("stream_project", (s, d) => {
          val emb = replay(s, d, "embeddings")
          val (m, v) = pcaArtifacts(s, d)
          drain(s, Pca.project(emb, m, v), "append")
        }, Pca.projectSql(Dim, 3)),
      Gate("stream_sim", runSim(_, _, 1),
        Similarity.ivfTopKSql(8, Dim, 5, QueryIdsSql)),
      Gate("stream_sim_probe", runSim(_, _, 3),
        Similarity.ivfTopKProbedSql(8, Dim, 5, 3, QueryIdsSql)),
      Gate("stream_sim_sq8", runSimSq8(_, _, 1),
        Similarity.ivfSq8QuantTopKSql(8, Dim, 5, QueryIdsSql)),
      Gate("stream_sim_sq8_probe", runSimSq8(_, _, 3),
        Similarity.ivfSq8QuantTopKProbedSql(8, Dim, 5, 3, QueryIdsSql)),
      // int8 shortlist + full-precision rerank (cold stream-static join of
      // the float index, same centroids) ≡ the batch ivfSq8TopK at the
      // batch gate's (k=5, rerank=15)
      Gate("stream_sim_sq8_rerank", (s, d) => {
          val q = annQueries(s, d)
          val (packedQ, cents) = sq8Index(s, d)
          val (packedF, _) = simIndex(s, d)
          drain(s, SimStream.topKAgainstSq8IndexReranked(q, packedQ, packedF,
            cents, k = 5, rerank = 15), "append")
        },
        Similarity.ivfSq8TopKSql(8, Dim, 5, 15, QueryIdsSql)),
      Gate("stream_sim_pq", runSimPq(_, _, 1),
        Similarity.ivfPqTopKSql(8, 8, 16, Dim, 5, QueryIdsSql)),
      Gate("stream_sim_pq_probe", runSimPq(_, _, 3),
        Similarity.ivfPqTopKProbedSql(8, 8, 16, Dim, 5, 3, QueryIdsSql)),
      Gate("stream_sim_pq_rerank", runSimPqRerank(_, _, 1),
        Similarity.ivfPqRerankTopKSql(8, 8, 16, Dim, 5, 15, QueryIdsSql)),
      Gate("stream_sim_pq_probe_rerank", runSimPqRerank(_, _, 3),
        Similarity.ivfPqRerankTopKProbedSql(8, 8, 16, Dim, 5, 15, 3,
          QueryIdsSql)),
      Gate("stream_sim_pq_residual", runSimPqResidual(_, _, 1),
        Similarity.ivfPqResidualTopKProbedSql(8, 8, 16, Dim, 5, 1,
          QueryIdsSql)),
      Gate("stream_sim_pq_residual_probe", runSimPqResidual(_, _, 3),
        Similarity.ivfPqResidualTopKProbedSql(8, 8, 16, Dim, 5, 3,
          QueryIdsSql)),
      // the residual production posture online: probed IVFADC shortlist,
      // full-precision rerank out of the cold float index
      Gate("stream_sim_pq_residual_rerank", (s, d) => {
          val q = annQueries(s, d)
          val (packed, cents, scbL) = resPqIndex(s, d)
          val (packedF, _) = simIndex(s, d)
          drain(s, SimStream.topKAgainstResidualPqIndexProbedReranked(
            q, packed, packedF, cents, scbL, k = 5, m = 8,
            dim = Dim, rerank = 15, nProbe = 3), "append")
        },
        Similarity.ivfPqResidualRerankTopKProbedSql(8, 8, 16, Dim, 5, 15, 3,
          QueryIdsSql)),
      // the probed residual search over the Lloyd-trained index ≡ the batch
      // trained search
      Gate("stream_sim_pq_residual_trained", (s, d) => {
          val q = annQueries(s, d)
          val (packed, cents, scbL) = resPqTrainedIndex(s, d)
          drain(s, SimStream.topKAgainstResidualPqIndexProbed(
            q, packed, cents, scbL, k = 5, m = 8, dim = Dim,
            nProbe = 3), "append")
        },
        Similarity.ivfPqResidualTrainedTopKProbedSql(8, 8, 16, Dim, 5, 3,
          QueryIdsSql, iters = 2)))
  }
}
