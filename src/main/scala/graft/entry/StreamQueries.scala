package graft.entry

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Exact, SeriesOps}
import graft.core.Caches.ArtifactMemo
import graft.streaming.{DocStream, StreamingDql}

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
  private val Dim = graft.core.Tables.EmbeddingDim
  private val runSeq = new AtomicInteger(0)

  private val AvgDql =
    "SELECT avg('purchase'.* BUCKET 'testdata', 1 m) LAST 1 h"
  private val RawDql =
    "SELECT 'purchase'.* BUCKET 'testdata' LAST 1 h"
  private val RawTransDql =
    "SELECT mul('purchase'.* BUCKET 'testdata', 3) LAST 1 h"
  // the glob child matches the staged sentinel (purchase.0), so the
  // watermark closes the final real window - a narrow two-series pick
  // would filter the sentinel below the watermark node and strand it
  private val RawCombDql =
    "SELECT quotient('purchase'.* BUCKET 'testdata', " +
      "'purchase'.'1' BUCKET 'testdata') LAST 1 h"
  private val ShiftDql =
    "SELECT avg('purchase'.* BUCKET 'testdata', 1 m) SHIFT BY 90 s LAST 1 h"
  // complete-mode leader board: scores the 'error' series so the staged
  // 'purchase' watermark sentinel never enters a score (the board needs
  // no watermark — complete mode re-emits every trigger)
  private val TopDql =
    "SELECT 'error'.* BUCKET 'testdata' LAST 1 h TOP 3 BY avg()"
  private val MultiRawDql =
    "SELECT 'purchase'.* BUCKET 'testdata', 'error'.* BUCKET 'testdata' " +
      "LAST 1 h"
  private val GroupDql =
    "SELECT 'purchase' FROM 'testdata' GROUP BY $'graft':'type' USING avg " +
      "LAST 1 h"
  // nested aggregation: the resolution-coarsening chain as a chained
  // window-over-window streaming aggregation (r15 lift)
  private val NestedDql =
    "SELECT sum(avg('purchase'.* BUCKET 'testdata', 1 m), 5 m) LAST 1 h"
  // aggregation OVER a GROUP BY lookup: the grouped per-slot combine
  // feeds an outer windowed max through the same chain
  private val AggOverGroupDql =
    "SELECT max('purchase' FROM 'testdata' GROUP BY $'graft':'type' " +
      "USING sum, 5 m) LAST 1 h"
  private val CombDql =
    "SELECT diff(sum('purchase'.* BUCKET 'testdata', 1 m), " +
      "avg('purchase'.* BUCKET 'testdata', 1 m)) LAST 1 h"
  private val ConfDql =
    "SELECT count_above_conf('purchase'.'1' BUCKET 'testdata', 0.5, 1 m) " +
      "LAST 1 h"
  private val DerivDql =
    "SELECT derivate(avg('purchase'.* BUCKET 'testdata', 1 m)) LAST 1 h"
  private val HistDql =
    "SELECT percentile(histogram('purchase'.* BUCKET 'testdata', 100, 3, " +
      "1 m), 0.9) LAST 1 h"
  private val MultiDql =
    "SELECT avg('purchase'.* BUCKET 'testdata', 1 m), " +
      "max('purchase'.* BUCKET 'testdata', 1 m) LAST 1 h"
  private val MultiConfDql =
    "SELECT avg('purchase'.* BUCKET 'testdata', 1 m), " +
      "count_above_conf('purchase'.* BUCKET 'testdata', 0.5, 1 m) LAST 1 h"

  /** the batch naming contract: default output name = unparsed selector */
  private def selectorNames(dql: String): Seq[String] =
    graft.dql.Parser.parse(dql).selectors
      .map(sel => graft.dql.Unparse.expr(sel.expr))

  /** Staging dir for the file source: a copy of `events.parquet` plus the
    * one-row sentinel file. Built once per input dir and reused (contents
    * are deterministic functions of the input).
    */
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
    * must never go through here — a concurrent harness reads them
    * without ever touching their mtime (r19 review). Returns the number
    * of entries deleted (best-effort, 0 on error).
    */
  private val StaleIdleMs = 15L * 60 * 1000

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

  private def sweepStale(root: java.nio.file.Path,
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
  // the sweep the drain's cleanup message promises: once per JVM, at
  // class init, before any new checkpoint is cut — on BOTH roots a
  // checkpoint can land on (the disk-backed fallback leaks just the
  // same when a JVM dies mid-gate)
  sweepStale(ReplayRoot, Seq("graft-ckpt-"))
  if (TmpRoot != ReplayRoot) sweepStale(TmpRoot, Seq("graft-ckpt-"))

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
  private def withStagingRoot[A](stage: java.nio.file.Path => A): A =
    try stage(ReplayRoot)
    catch {
      case e: StageSpaceException if ReplayRoot != TmpRoot =>
        System.err.println(
          s"[stream] ${e.getMessage} — re-staging on $TmpRoot")
        stage(TmpRoot)
    }

  private def stagedDir(s: SparkSession, dir: String): String =
      synchronized { graft.core.Provisioning.timed {
        withStagingRoot(stagedDirAt(s, dir, _))
  } }

  private def stagedDirAt(s: SparkSession, dir: String,
                          root: java.nio.file.Path): String = {
    val staged = root.resolve("graft-stream-src-" + dirKey(dir))
    val events = staged.resolve("events.parquet")
    val sentinel = staged.resolve("zz-sentinel.parquet")
    val copied = stageCopy(Paths.get(dir, "events.parquet"), events)
    if (copied || !Files.exists(sentinel)) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val build = staged.resolve("_sentinel_build")
      // one 'purchase' event (matches the gate selectors — only selected
      // rows advance the watermark) at SentinelMs, schema-shaped by an
      // arbitrary real row; ts is written in the SAME type the real file
      // carries (int64 nanos, TIMESTAMP_NTZ micros, or TIMESTAMP — the
      // generator has shipped all three across rounds) so the directory
      // reads under one uniform schema
      val evHead = s.read.parquet(events.toString).limit(1)
      val sentinelTs = evHead.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          lit(SentinelMs * 1000000L)
        case t => timestamp_millis(lit(SentinelMs)).cast(t)
      }
      evHead
        .withColumn("ts", sentinelTs)
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
    staged.toString
  }

  /** Staging dir for the document stream: a copy of `documents.parquet`
    * (no sentinel — the dedup gate is a stateful FILTER, not a windowed
    * aggregation; rows emit as they arrive, nothing waits on the
    * watermark).
    */
  private def stagedDocsDir(dir: String): String =
      synchronized { graft.core.Provisioning.timed {
    withStagingRoot { root =>
      val staged = root.resolve("graft-stream-docs-" + dirKey(dir))
      stageCopy(Paths.get(dir, "documents.parquet"),
        staged.resolve("documents.parquet"))
      staged.toString
    }
  } }

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

  /** Run a gate DQL over the staged replay; returns the finished result
    * as a batch frame (metric, ws, value) bounded to real windows.
    */
  private def runDql(s: SparkSession, dir: String, dql: String,
                     mode: String, slotExact: Boolean = true,
                     withName: Boolean = false,
                     topBoard: Boolean = false): DataFrame = {
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    // same three-way ts dispatch as SeriesOps.events, truncated to ms
    // so stream slots land exactly where the batch ts_ms does
    val tsCol = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_millis(expr("ts DIV 1000000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_millis(unix_millis(
          col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case _ => timestamp_millis(unix_millis(col("ts")))
    }
    val stream = s.readStream.schema(sch).parquet(staged)
      .select(tsCol.as("ts"),
        col("event_type"), col("user_id"), col("value"))
    // opt-ins thread as explicit compile parameters, never a mutable
    // session conf toggled around the call (r16 advisory: a conf flip
    // leaks into any concurrent compilation on the shared session)
    val out = StreamingDql.compile(stream, dql, "0 seconds",
      slotExact = Some(slotExact), topBoard = Some(topBoard))
    val cols = (if (withName) Seq("name") else Nil) ++
      Seq("metric", "ws", "value")
    drain(s, out, mode).where(col("ws") < SentinelMs)
      .select(cols.head, cols.tail: _*)
  }

  /** document replay stream with a synthetic event time (doc_id seconds —
    * deterministic, no ts column in the table). +1 day: an event time of
    * exactly epoch 0 (doc_id 0) sits ON the operator's initial watermark
    * value and is filtered as late — any positive offset clears the
    * boundary.
    */
  private def docStream(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDocsDir(dir)
    val sch = stagedSchema(s, s"$staged/documents.parquet")
    // the staged dir is ONE file = one input split, which would run the
    // compute-heavy probe projections (2M+ md5 calls for the near-dup
    // signature) single-threaded — the stream analog of Parallel.widen's
    // narrow-layout case; a real firehose arrives pre-partitioned.
    // KEYED on doc_id (r21, the r20 events-widen fix applied here):
    // keyless repartition(8) paid the sortBeforeRepartition determinism
    // sort of full document texts on EVERY micro-batch; a hash spread on
    // the unique doc key is deterministic per row, skips the sort, and
    // spreads evenly (5000 docs across 8 partitions)
    s.readStream.schema(sch).parquet(staged).repartition(8, col("doc_id"))
      .withColumn("ts", timestamp_millis((col("doc_id") + 86400L) * 1000L))
  }

  /** The DocStream exact-dedup gate: dedup the replay on the text hash,
    * return the kept hash set.
    */
  private def runDedup(s: SparkSession, dir: String): DataFrame = {
    val out = DocStream.dedupExact(docStream(s, dir), "1 minute")
      .select("text_hash")
    drain(s, out, "append").distinct()
  }

  /** The corpus band index artifact: in production it IS a materialized
    * table (the operator doc says so — a batch-refreshed table the
    * firehose probes), so its one-off build is storage provisioning, not
    * probe cost.
    */
  // delegates to the shared (session, corpus)-keyed artifact in
  // DqlArtifacts (r17): the streaming DQL registry's dedup_minhash
  // probe reads the SAME index, so the corpus is banded once per
  // refresh no matter which surface probes it
  private def nearDupIndex(s: SparkSession, dir: String): DataFrame =
    graft.dql.DqlArtifacts.bandIndex(s, new graft.dql.TestdataStore(dir))

  /** band index over the EVAL split only — the fuzzy-decon probe target,
    * an artifact like [[nearDupIndex]] (in production the eval suite's
    * index is a tiny batch-refreshed artifact)
    */
  private val evalIndexMemo = new ArtifactMemo[(SparkSession, String), DataFrame]
  private def evalBandIndex(s: SparkSession, dir: String): DataFrame =
    evalIndexMemo((s, dir)) {
      graft.pipeline.Dedup.bandIndex(
        graft.core.Tables(s, dir, "documents").where(col("doc_id") % 5 === 0))
    }

  /** DQL pipeline registry on the firehose (r16 verdict #5): the DQL
    * TEXT compiled onto the document replay via
    * [[graft.streaming.StreamingPipelineDql]] — row-local operators
    * and frozen-artifact probes, each ≡ its batch oracle on the
    * bounded replay.
    */
  private def runDqlPipeline(s: SparkSession, dir: String, dql: String,
                             mode: String = "append"): DataFrame =
    drain(s, graft.streaming.StreamingPipelineDql.compile(
      docStream(s, dir), dql, new graft.dql.TestdataStore(dir)),
      mode)

  /** The stream-static near-dup gate: the document replay probed against
    * the band index of the SAME corpus — every flagged (probe, corpus)
    * pair must therefore be a batch minhash pair, in both directions
    * (self-matches are excluded by the operator).
    */
  private def runNearDup(s: SparkSession, dir: String): DataFrame = {
    val out = DocStream.nearDupAgainstIndex(docStream(s, dir),
      nearDupIndex(s, dir), 0.5, "1 minute")
      .select("doc_id", "match_id", "jaccard")
    drain(s, out, "append")
  }

  /** Streaming substring-span probe: arriving documents' 8-token window
    * hashes checked against the corpus duplicated-gram artifact
    * (batch-refreshed, like the near-dup band index) — duplicated window
    * starts emit the moment the document lands. Stateless stream-static
    * equi-join, append mode; oracle = the batch hit set.
    */
  /** The corpus duplicated-gram artifact, like the band index: both span
    * gates' docs say "batch-refreshed like the near-dup band index", and
    * that is what production does — the stream-static side must not
    * re-derive the corpus-wide count per micro-batch (it dominated
    * stream_scrub's CPU: ~11 s·32 of the 2.5 s wall was rebuilding the
    * artifact).
    */
  // delegates to the shared (session, corpus, n)-keyed artifact in
  // DqlArtifacts (r17): the streaming DQL registry's scrub spelling
  // reads the SAME table, so the corpus-wide count is paid once per
  // refresh no matter which surface probes it
  private def dupGramsArtifact(s: SparkSession, dir: String): DataFrame =
    graft.dql.DqlArtifacts.dupGrams(s, new graft.dql.TestdataStore(dir), 8)

  private def runSpans(s: SparkSession, dir: String): DataFrame =
    drain(s, DocStream.spanHitsAgainstGrams(docStream(s, dir),
      dupGramsArtifact(s, dir), 8), "append")

  /** Streaming substring-span SCRUB: arriving documents rewritten in
    * place against the batch-refreshed gram artifact — row-local island
    * merge, one doc-keyed re-group (update mode). Oracle = the batch
    * scrub SQL verbatim.
    */
  private def runScrub(s: SparkSession, dir: String): DataFrame =
    drain(s, DocStream.scrubAgainstGrams(docStream(s, dir),
      dupGramsArtifact(s, dir), 8), "update")

  /** the keep-first artifact — duplicated hashes WITH their packed
    * canonical keys — an artifact like [[dupGramsArtifact]]
    */
  private def dupCanonArtifact(s: SparkSession, dir: String): DataFrame =
    graft.dql.DqlArtifacts.dupGramsCanon(s,
      new graft.dql.TestdataStore(dir), 8)

  private def runScrubKeepFirst(s: SparkSession, dir: String): DataFrame =
    drain(s, DocStream.scrubKeepFirstAgainstGrams(docStream(s, dir),
      dupCanonArtifact(s, dir), 8), "update")

  /** Streaming FUZZY decontamination: the train split of the replay
    * probed against the eval split's band index — each arriving train
    * document is flagged the moment it near-duplicates an eval doc
    * (stream-static equi-join on the banded signature + row-local
    * exact-Jaccard verify, [[runNearDup]]'s machinery aimed at the eval
    * index). Oracle = the batch `decon_fuzzy` pair set: banding is a
    * per-document property, so the crossing pairs are identical.
    */
  private def runDeconFuzzy(s: SparkSession, dir: String): DataFrame = {
    val train = docStream(s, dir).where(col("doc_id") % 5 =!= 0)
    val out = DocStream.nearDupAgainstIndex(train, evalBandIndex(s, dir),
      0.5, "1 minute")
      .select(col("doc_id"), col("match_id").as("eval_id"), col("jaccard"))
    drain(s, out, "append")
  }

  /** Streaming decontamination gate: the replay's train split (doc_id %
    * 97 ≠ 0) probed against the eval split's broadcast shingle set —
    * the batch `decon_ngram` semantics on the stream (same oracle).
    */
  private def runDecon(s: SparkSession, dir: String): DataFrame = {
    val eval = graft.core.Tables(s, dir, "documents")
      .where(col("doc_id") % 97 === 0)
    val out = DocStream.decontaminate(
      docStream(s, dir).where(col("doc_id") % 97 =!= 0), eval, 3)
    drain(s, out, "append")
  }

  /** Staging dir for the embedding query stream (same contract as
    * [[stagedDocsDir]]).
    */
  private def stagedEmbDir(dir: String): String =
      synchronized { graft.core.Provisioning.timed {
    withStagingRoot { root =>
      val staged = root.resolve("graft-stream-emb-" + dirKey(dir))
      stageCopy(Paths.get(dir, "embeddings.parquet"),
        staged.resolve("embeddings.parquet"))
      staged.toString
    }
  } }

  /** The packed IVF index (+ centroid row) per (session, dir) — the
    * materialized artifact an online-retrieval service probes.
    */
  private val simIndexMemo =
    new ArtifactMemo[(SparkSession, String), (DataFrame, DataFrame)]
  private def simIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    simIndexMemo((s, dir)) {
      graft.streaming.SimStream.ivfIndex(
        graft.core.Tables(s, dir, "embeddings"), nCells = 8)
    }

  /** Online hybrid retrieval: each arriving query probes BOTH the IVF
    * cell index and the LSH bucket index, ranks each list in-row, and
    * RRF-fuses — one stateless row, two stream-static joins. Oracle =
    * the batch fusion of the same two retrievals.
    */
  private def runRrf(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedEmbDir(dir)
    val sch = stagedSchema(s, s"$staged/embeddings.parquet")
    val queries = s.readStream.schema(sch).parquet(staged)
      .where(col("vec_id").isin(10L, 11L, 12L))
      .select("vec_id", "embedding")
    val (packedIvf, cents) = simIndex(s, dir)
    drain(s, graft.streaming.SimStream.rrfAgainstIndexes(
      queries, packedIvf, cents, lshIdx6(s, dir), bits = 6, dim = Dim,
      kEach = 10, k = 5), "append")
  }

  /** 6-bit packed bucket index for the hybrid gate (the radius gate's
    * [[lshIdx]] uses 4 bits — different recall point, separate
    * artifact).
    */
  private val lshIdx6Memo = new ArtifactMemo[(SparkSession, String), DataFrame]
  private def lshIdx6(s: SparkSession, dir: String): DataFrame =
    lshIdx6Memo((s, dir)) {
      graft.streaming.SimStream.lshIndex(
        graft.core.Tables(s, dir, "embeddings"), bits = 6, dim = Dim)
    }

  /** The packed LSH bucket index per (session, dir) — the static side of
    * the online radius search.
    */
  private val lshIndexMemo = new ArtifactMemo[(SparkSession, String), DataFrame]
  private def lshIdx(s: SparkSession, dir: String): DataFrame =
    lshIndexMemo((s, dir)) {
      graft.streaming.SimStream.lshIndex(
        graft.core.Tables(s, dir, "embeddings"), bits = 4, dim = Dim)
    }

  /** Online radius search: arriving queries probe the packed bucket
    * index; every corpus vector with cosine ≥ the threshold streams out
    * (near-dup alerting at ingest). Oracle = the batch bucketed
    * range-search SQL.
    */
  private def runRange(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedEmbDir(dir)
    val sch = stagedSchema(s, s"$staged/embeddings.parquet")
    val queries = s.readStream.schema(sch).parquet(staged)
      .where(col("vec_id") < 5).select("vec_id", "embedding")
    drain(s, graft.streaming.SimStream.rangeAgainstLshIndex(
      queries, lshIdx(s, dir), bits = 4, dim = Dim, minCos = 0.1), "append")
  }

  /** Online embedding-drift monitor: per-dimension corpus moments,
    * complete-mode — the final board after the bounded replay ≡ the
    * batch statistics (oracle = the batch SQL verbatim). State is
    * bounded by the dimensionality, never the stream.
    */
  private def runDimStats(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedEmbDir(dir)
    val sch = stagedSchema(s, s"$staged/embeddings.parquet")
    val emb = s.readStream.schema(sch).parquet(staged)
    drain(s, graft.pipeline.Similarity.dimStats(emb), "complete")
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
      val emb = graft.core.Tables(s, dir, "embeddings")
      // persisted first: the component trainer's eager mean job then
      // fills this cache instead of computing the mean a second time
      val mean = graft.pipeline.Pca.meanRow(emb)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (mean, graft.pipeline.Pca.topComponentRow(emb, Dim, 3))
    }

  /** Online PCA projection/residual: each arriving vector scores
    * row-locally against the frozen (mean, component) broadcasts —
    * stateless, zero shuffle; the batch self-scored SQL is the oracle
    * verbatim.
    */
  private def runProject(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedEmbDir(dir)
    val sch = stagedSchema(s, s"$staged/embeddings.parquet")
    val emb = s.readStream.schema(sch).parquet(staged)
    val (m, v) = pcaArtifacts(s, dir)
    drain(s, graft.pipeline.Pca.project(emb, m, v), "append")
  }

  private val sq8IndexMemo =
    new ArtifactMemo[(SparkSession, String), (DataFrame, DataFrame)]
  private def sq8Index(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    sq8IndexMemo((s, dir)) {
      graft.streaming.SimStream.sq8Index(
        graft.core.Tables(s, dir, "embeddings"), nCells = 8)
    }

  /** Online quantized ANN gate: same replay, searched against the SQ8
    * packed index — results must match the batch quantized-only ranking
    * ([[graft.pipeline.Similarity.ivfSq8QuantTopK]]), whose SQL is the
    * oracle.
    */
  private def runSimSq8(s: SparkSession, dir: String,
                        nProbe: Int = 1): DataFrame = {
    val staged = stagedEmbDir(dir)
    val sch = stagedSchema(s, s"$staged/embeddings.parquet")
    val queries = s.readStream.schema(sch).parquet(staged)
      .where(col("vec_id").isin(10L, 11L, 12L))
      .select("vec_id", "embedding")
    val (packed, cents) = sq8Index(s, dir)
    val out =
      if (nProbe == 1) graft.streaming.SimStream.topKAgainstSq8Index(
        queries, packed, cents, k = 5)
      else graft.streaming.SimStream.topKAgainstSq8IndexProbed(
        queries, packed, cents, k = 5, nProbe = nProbe)
    drain(s, out, "append")
  }

  private val pqIndexMemo = new ArtifactMemo[(SparkSession, String),
    (DataFrame, DataFrame, DataFrame)]
  private def pqIndex(s: SparkSession,
                      dir: String): (DataFrame, DataFrame, DataFrame) =
    pqIndexMemo((s, dir)) {
      graft.streaming.SimStream.pqIndex(
        graft.core.Tables(s, dir, "embeddings"), nCells = 8, m = 8,
        ksub = 16, dim = Dim)
    }

  private val resPqIndexMemo = new ArtifactMemo[(SparkSession, String),
    (DataFrame, DataFrame, DataFrame)]
  private def resPqIndex(s: SparkSession,
                         dir: String): (DataFrame, DataFrame, DataFrame) =
    resPqIndexMemo((s, dir)) {
      graft.streaming.SimStream.residualPqIndex(
        graft.core.Tables(s, dir, "embeddings"), nCells = 8, m = 8,
        ksub = 16, dim = Dim)
    }

  /** Online residual-PQ (IVFADC) ANN gate: same replay, searched against
    * the residual codes-only index with per-(query, cell) ADC tables —
    * results must match the batch residual ranking
    * ([[graft.pipeline.Similarity.ivfPqResidualTopKProbed]]), whose SQL
    * is the oracle.
    */
  private def runSimPqResidual(s: SparkSession, dir: String,
                               nProbe: Int = 1): DataFrame = {
    val staged = stagedEmbDir(dir)
    val sch = stagedSchema(s, s"$staged/embeddings.parquet")
    val queries = s.readStream.schema(sch).parquet(staged)
      .where(col("vec_id").isin(10L, 11L, 12L))
      .select("vec_id", "embedding")
    val (packed, cents, scbL) = resPqIndex(s, dir)
    val out =
      if (nProbe == 1) graft.streaming.SimStream.topKAgainstResidualPqIndex(
        queries, packed, cents, scbL, k = 5, m = 8, dim = Dim)
      else graft.streaming.SimStream.topKAgainstResidualPqIndexProbed(
        queries, packed, cents, scbL, k = 5, m = 8, dim = Dim,
        nProbe = nProbe)
    drain(s, out, "append")
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
      graft.streaming.SimStream.residualPqIndexTrained(
        graft.core.Tables(s, dir, "embeddings"), nCells = 8, m = 8,
        ksub = 16, dim = Dim, iters = 2)
    }

  /** Online trained-IVFADC gate: the probed residual search over the
    * Lloyd-trained index — results ≡ the batch trained search, whose
    * SQL is the oracle.
    */
  private def runSimPqResidualTrained(s: SparkSession,
                                      dir: String): DataFrame = {
    val staged = stagedEmbDir(dir)
    val sch = stagedSchema(s, s"$staged/embeddings.parquet")
    val queries = s.readStream.schema(sch).parquet(staged)
      .where(col("vec_id").isin(10L, 11L, 12L))
      .select("vec_id", "embedding")
    val (packed, cents, scbL) = resPqTrainedIndex(s, dir)
    drain(s, graft.streaming.SimStream.topKAgainstResidualPqIndexProbed(
      queries, packed, cents, scbL, k = 5, m = 8, dim = Dim, nProbe = 3),
      "append")
  }

  /** The residual production posture online: probed IVFADC shortlist,
    * full-precision rerank out of the cold float index.
    */
  private def runSimPqResidualRerank(s: SparkSession, dir: String,
                                     nProbe: Int): DataFrame = {
    val staged = stagedEmbDir(dir)
    val sch = stagedSchema(s, s"$staged/embeddings.parquet")
    val queries = s.readStream.schema(sch).parquet(staged)
      .where(col("vec_id").isin(10L, 11L, 12L))
      .select("vec_id", "embedding")
    val (packed, cents, scbL) = resPqIndex(s, dir)
    val (packedF, _) = simIndex(s, dir)
    val out = graft.streaming.SimStream
      .topKAgainstResidualPqIndexProbedReranked(
        queries, packed, packedF, cents, scbL, k = 5, m = 8, dim = Dim,
        rerank = 15, nProbe = nProbe)
    drain(s, out, "append")
  }

  /** Online product-quantized ANN gate: same replay, searched against
    * the codes-only PQ packed index — results must match the batch PQ
    * ranking ([[graft.pipeline.Similarity.ivfPqTopK]]), whose SQL is the
    * oracle.
    */
  private def runSimPq(s: SparkSession, dir: String,
                       nProbe: Int = 1): DataFrame = {
    val staged = stagedEmbDir(dir)
    val sch = stagedSchema(s, s"$staged/embeddings.parquet")
    val queries = s.readStream.schema(sch).parquet(staged)
      .where(col("vec_id").isin(10L, 11L, 12L))
      .select("vec_id", "embedding")
    val (packed, cents, cbs) = pqIndex(s, dir)
    val out =
      if (nProbe == 1) graft.streaming.SimStream.topKAgainstPqIndex(
        queries, packed, cents, cbs, k = 5, m = 8, dim = Dim)
      else graft.streaming.SimStream.topKAgainstPqIndexProbed(
        queries, packed, cents, cbs, k = 5, m = 8, dim = Dim,
        nProbe = nProbe)
    drain(s, out, "append")
  }

  /** Online PQ ANN with the full-precision rerank: the codes-only PQ
    * index selects the shortlist, the full-precision packed index (same
    * centroids, cold stream-static join) re-scores it row-locally —
    * TRUE-cosine rankings from the stream, hash-matching the batch
    * [[graft.pipeline.Similarity.ivfPqRerankTopK]] at the batch gate's
    * own (k, rerank); its SQL is the oracle.
    */
  private def runSimPqRerank(s: SparkSession, dir: String,
                             nProbe: Int = 1): DataFrame = {
    val staged = stagedEmbDir(dir)
    val sch = stagedSchema(s, s"$staged/embeddings.parquet")
    val queries = s.readStream.schema(sch).parquet(staged)
      .where(col("vec_id").isin(10L, 11L, 12L))
      .select("vec_id", "embedding")
    val (packedQ, cents, cbs) = pqIndex(s, dir)
    val (packedF, _) = simIndex(s, dir)
    val out =
      if (nProbe == 1) graft.streaming.SimStream.topKAgainstPqIndexReranked(
        queries, packedQ, packedF, cents, cbs, k = 5, m = 8, dim = Dim,
        rerank = 15)
      else graft.streaming.SimStream.topKAgainstPqIndexProbedReranked(
        queries, packedQ, packedF, cents, cbs, k = 5, m = 8, dim = Dim,
        rerank = 15, nProbe = nProbe)
    drain(s, out, "append")
  }

  /** Online quantized ANN with the full-precision rerank: the int8 index
    * selects the shortlist, the full-precision packed index (same
    * centroids, cold stream-static join) re-scores it row-locally —
    * TRUE-cosine rankings from the stream, hash-matching the batch
    * [[graft.pipeline.Similarity.ivfSq8TopK]] at the batch gate's own
    * (k, rerank); its SQL is the oracle.
    */
  private def runSimSq8Rerank(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedEmbDir(dir)
    val sch = stagedSchema(s, s"$staged/embeddings.parquet")
    val queries = s.readStream.schema(sch).parquet(staged)
      .where(col("vec_id").isin(10L, 11L, 12L))
      .select("vec_id", "embedding")
    val (packedQ, cents) = sq8Index(s, dir)
    val (packedF, _) = simIndex(s, dir)
    val out = graft.streaming.SimStream.topKAgainstSq8IndexReranked(
      queries, packedQ, packedF, cents, k = 5, rerank = 15)
    drain(s, out, "append")
  }

  /** Online ANN gate: the embeddings replay filtered to the batch
    * `sim_topk_ivf` query set, searched against the packed index of the
    * same corpus — results must match the batch IVF search, so the batch
    * DuckDB oracle applies with the same parameters.
    */
  private def runSim(s: SparkSession, dir: String,
                     nProbe: Int = 1): DataFrame = {
    val staged = stagedEmbDir(dir)
    val sch = stagedSchema(s, s"$staged/embeddings.parquet")
    val queries = s.readStream.schema(sch).parquet(staged)
      .where(col("vec_id").isin(10L, 11L, 12L))
      .select("vec_id", "embedding")
    val (packed, cents) = simIndex(s, dir)
    val out =
      if (nProbe == 1) graft.streaming.SimStream.topKAgainstIvfIndex(
        queries, packed, cents, k = 5)
      else graft.streaming.SimStream.topKAgainstIvfIndexProbed(
        queries, packed, cents, k = 5, nProbe = nProbe)
    drain(s, out, "append")
  }

  /** The batch text-quality operator UNCHANGED on the stream: TextOps
    * transforms are `DataFrame => DataFrame` projections, so the same
    * code path serves both engines — this gate pins that claim in the
    * driver surface (stateless, no watermark needed).
    */
  private def runQuality(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.pipeline.TextOps.quality(docStream(s, dir)), "append")

  /** the batch Gopher rule battery unchanged on the stream (row-local,
    * stateless append) — oracle = the batch SQL verbatim */
  private def runGopher(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.pipeline.TextOps.gopherRules(docStream(s, dir),
      stops = graft.pipeline.TextOps.Stopwords), "append")

  /** live word-count leaderboard (complete mode republishes the current
    * top-k each trigger); the bounded replay's final board ≡ the batch
    * occurrence counts */
  private def runVocab(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.streaming.DocStream.vocabTopK(docStream(s, dir), 50),
      "complete")

  /** the batch repetition operator unchanged on the stream (row-local
    * n-gram folds, stateless append) — oracle = the batch SQL verbatim */
  private def runRepetition(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.pipeline.TextOps.repetition(docStream(s, dir)), "append")

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
    val rules = graft.entry.PipelineQueries
      .bpeRules(s, dir, "mod5", 4).map(r => (r._1, r._2))
    drain(s, graft.pipeline.Bpe.encodeCounts(
      docStream(s, dir).where(col("doc_id") % 5 === 0), rules), "append")
  }

  /** PII scrubbing on the stream: the batch redaction operator over the
    * batch synthetic-PII injection, both row-local — the compliance scrub
    * runs inline on the firehose with zero state (oracle = batch SQL) */
  private def runRedact(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.pipeline.TextOps.redactPii(
      graft.pipeline.TextOps.withSyntheticPii(docStream(s, dir))), "append")

  /** row-local unigram entropy on the stream — the lexical-diversity
    * quality signal inline on the firehose, zero state (oracle = batch
    * SQL verbatim) */
  private def runEntropy(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.pipeline.TextOps.entropy(docStream(s, dir)), "append")

  /** live per-source quality scoreboard (complete mode republishes the
    * board each trigger); the bounded replay's final board ≡ the batch
    * scoreboard, same oracle */
  private def runSourceQuality(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.pipeline.TextOps.sourceQuality(docStream(s, dir),
      threshold = 0.46), "complete")

  /** chunking inline on the firehose — documents split into training
    * windows the moment they arrive; row-local fan-out, zero state
    * (oracle = batch SQL verbatim) */
  private def runChunks(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.pipeline.TextOps.chunks(docStream(s, dir),
      n = 32, stride = 24), "append")

  /** feature hashing inline on the firehose — sparse fixed-width
    * features the moment a document arrives; row-local, zero state
    * (oracle = batch SQL verbatim) */
  private def runHashFeatures(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.pipeline.TextOps.hashFeatures(docStream(s, dir),
      dim = Dim), "append")

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
      graft.pipeline.Classifier.trainWeights(
        graft.core.Tables(s, dir, "documents"),
        dim = 32, rounds = 10, lr = 0.001, minWords = 55)
        .map(_.doubleValue)
    }

  /** Online learned-quality gate: each arriving document scored against
    * the frozen classifier — row-local margin + sigmoid against literal
    * weights, zero state, zero joins.
    */
  private def runClassifier(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.pipeline.Classifier.scoreWith(docStream(s, dir),
      dim = 32, minWords = 55, clfWeights(s, dir)), "append")

  /** The frozen unigram LM per (session, dir) — the CCNet posture: the model is trained (counted) once on the
    * reference corpus, then the firehose is scored against it via a
    * stream-static join. Scoring the SAME corpus keeps every token
    * in-vocabulary, so the batch self-scored oracle applies verbatim.
    */
  private val lmMemo = new ArtifactMemo[(SparkSession, String), DataFrame]
  private def unigramLm(s: SparkSession, dir: String): DataFrame =
    lmMemo((s, dir)) {
      graft.pipeline.TextOps.unigramModel(
        graft.core.Tables(s, dir, "documents"))
    }

  /** Streaming LM-quality gate: per-arriving-document mean unigram
    * log-prob against the frozen model. The token re-group keys on
    * doc_id (update mode: a document's tokens all ride one input row,
    * so each doc emits exactly once per replay; a production stream
    * would watermark the per-doc aggregation to evict its state).
    */
  private def runLogProb(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.pipeline.TextOps.unigramLogProb(
      docStream(s, dir).select("doc_id", "text"),
      unigramLm(s, dir)), "update")

  /** The frozen per-language tercile cut table per (session, dir) —
    * batch-refreshed beside the LM, exactly CCNet's cutoff files.
    */
  private val pplCutsMemo = new ArtifactMemo[(SparkSession, String), DataFrame]
  private def pplCutsTable(s: SparkSession, dir: String): DataFrame =
    pplCutsMemo((s, dir)) {
      val dd = graft.core.Tables(s, dir, "documents")
      graft.pipeline.Curation.pplCuts(dd,
        graft.pipeline.TextOps.unigramLogProb(dd, unigramLm(s, dir)))
    }

  /** Online CCNet bucketing: arriving documents scored against the
    * frozen LM and labeled against the frozen cuts — self-scored on the
    * replay corpus, so the batch bucket oracle applies verbatim.
    */
  private def runPplBuckets(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.streaming.DocStream.pplLabel(
      docStream(s, dir).select("doc_id", "lang", "text"),
      unigramLm(s, dir), pplCutsTable(s, dir)), "update")

  /** Frozen TF-IDF corpus statistics (per-term document frequency +
    * corpus size) per (session, dir) — the batch-refreshed artifact the online keyword extractor scores
    * against, beside the LM and the cut table.
    */
  private val tfidfStatsMemo =
    new ArtifactMemo[(SparkSession, String), (DataFrame, DataFrame)]
  private def tfidfStats(s: SparkSession,
                         dir: String): (DataFrame, DataFrame) =
    tfidfStatsMemo((s, dir)) {
      val dd = graft.core.Tables(s, dir, "documents")
      val tf = graft.pipeline.Dedup.withWords(dd)
        .select(col("doc_id"), explode(col("w")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      (tf.groupBy("word").agg(count(lit(1)).as("df")),
        dd.agg(count(lit(1)).as("n_docs")))
    }

  /** Online TF-IDF keyword extraction: arriving docs scored against the
    * frozen df table — self-scored on the replay corpus, so the batch
    * oracle applies verbatim.
    */
  private def runTfidf(s: SparkSession, dir: String): DataFrame = {
    val (dfreq, n) = tfidfStats(s, dir)
    drain(s, graft.streaming.DocStream.tfidfTopK(
      docStream(s, dir).select("doc_id", "text"), dfreq, n, k = 3),
      "update")
  }

  /** The frozen DSIR log-ratio row (64-bucket hashed-unigram importance
    * table toward the English target) per (session, dir) —
    * batch-refreshed beside the LM/cuts/df artifacts.
    */
  private val dsirRsMemo = new ArtifactMemo[(SparkSession, String), DataFrame]
  private def dsirRatios(s: SparkSession, dir: String): DataFrame =
    dsirRsMemo((s, dir)) {
      graft.pipeline.Dsir.ratioRow(graft.pipeline.Dsir.logRatios(
        graft.core.Tables(s, dir, "documents"), 64, col("lang") === "en"))
    }

  /** Online per-source quota admission: first-arrival counter state, two
    * longs per source; the doc_id-ordered replay makes the row_number
    * oracle exact.
    */
  private def runQuota(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.streaming.DocStream.quotaAdmit(
      docStream(s, dir).select("source", "doc_id"), "source", 15),
      "append")

  /** Online DSIR admission: each arriving doc scores row-locally against
    * the frozen ratio row and is admitted when its Gumbel-perturbed
    * importance key clears the fixed bar — stateless, append-mode; the
    * batch threshold SQL is the oracle verbatim.
    */
  private def runDsir(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.pipeline.Dsir.score(
      docStream(s, dir).select("doc_id", "text"), dsirRatios(s, dir))
      .where(col("key") > 2.0), "append")

  /** The online admission capstone: per-arriving-document verdicts
    * (dup / low_quality / kept) with a deterministic first-arrival dedup
    * leg — the streaming analog of the batch `corpus_decisions` gate
    * (near-dup canonicalization there; watermark-bounded exact-dup
    * state here, with the same quality operator and threshold).
    */
  private def runDecisions(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.streaming.DocStream.decisions(
      docStream(s, dir), "1 minute", retainMs = 60000L,
      qualityThreshold = 0.46), "append")

  /** Streaming curation-sampling gate: [[graft.pipeline.Curation
    * .sampleStratified]] is a deterministic per-row filter (md5 threshold
    * keyed on doc_id), so the batch operator runs on the stream verbatim
    * — stateless, no watermark, admission decided the moment a document
    * arrives. Same rates as the batch `sample_stratified` gate, same
    * oracle.
    */
  private def runSample(s: SparkSession, dir: String): DataFrame =
    drain(s, graft.pipeline.Curation.sampleStratified(
        docStream(s, dir), "lang",
        Map("en" -> 0.5, "es" -> 0.25, "de" -> 0.1), 0.2)
      .select("doc_id", "lang", "source"), "append")

  /** Streaming sessionization gate: the events replay through
    * `session_window` state ([[graft.streaming.EventStream.sessionize]],
    * the batch `events_sessionize` gap). The sentinel advances the
    * watermark past every real session's close; its own session (user 0
    * at SentinelMs) never closes and is additionally bounded out.
    */
  private def runSessionize(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsCol = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_millis(expr("ts DIV 1000000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_millis(unix_millis(
          col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case _ => timestamp_millis(unix_millis(col("ts")))
    }
    val stream = s.readStream.schema(sch).parquet(staged)
      .select(tsCol.as("ts"), col("user_id"), col("value"))
    val out = graft.streaming.EventStream.sessionize(stream,
      EventQueries.SessionGapMs, "0 seconds")
    drain(s, out, "append").where(col("session_start") < SentinelMs)
  }

  /** Streaming funnel gate: the events replay through per-user keyed
    * funnel state + live step counts; the replay arrives in one ordered
    * batch, so the online counts equal the batch funnel's (every step
    * converts at least one user in the testdata, so the zero-converter
    * emission difference never bites).
    */
  private def runFunnel(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsCol = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_millis(expr("ts DIV 1000000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_millis(unix_millis(
          col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case _ => timestamp_millis(unix_millis(col("ts")))
    }
    // the sentinel is a synthetic 'purchase' at SentinelMs for user 0 —
    // exclude it from the fold (it could convert user 0's last step), as
    // the batch oracle never sees it
    val stream = s.readStream.schema(sch).parquet(staged)
      .select(tsCol.as("ts"), col("user_id"), col("event_type"))
      .where(col("ts") < timestamp_millis(lit(SentinelMs)))
    val out = graft.streaming.EventStream.funnel(stream,
      EventQueries.FunnelSteps, "0 seconds")
    drain(s, out, "update")
  }

  /** [[runFunnel]] with the 3-day conversion deadline — the online
    * windowFunnel; oracle = the batch deadline funnel.
    */
  private def runFunnelWindow(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsCol = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_millis(expr("ts DIV 1000000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_millis(unix_millis(
          col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case _ => timestamp_millis(unix_millis(col("ts")))
    }
    val stream = s.readStream.schema(sch).parquet(staged)
      .select(tsCol.as("ts"), col("user_id"), col("event_type"))
      .where(col("ts") < timestamp_millis(lit(SentinelMs)))
    val out = graft.streaming.EventStream.funnelWithin(stream,
      EventQueries.FunnelSteps, "0 seconds", windowMs = 259200000L)
    drain(s, out, "update")
  }

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
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsCol = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_millis(expr("ts DIV 1000000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_millis(unix_millis(
          col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case _ => timestamp_millis(unix_millis(col("ts")))
    }
    val dayMs = 86400000L
    val stream = s.readStream.schema(sch).parquet(staged)
      .select(tsCol.as("ts"), col("user_id"))
    val board = drain(s,
      graft.streaming.EventStream.activeBoard(stream, dayMs, 7), "append")
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
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsMs = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_millis(col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => unix_millis(col("ts"))
    }
    val types = Seq("click", "error", "purchase", "signup", "view")
    val aggs = types.map(t => sum(when(col("event_type") === t, 1L)).as(t))
    val board = s.readStream.schema(sch).parquet(staged)
      .select(tsMs.as("ts_ms"), col("event_type"))
      .withColumn("day", expr("ts_ms div 86400000"))
      .groupBy("day")
      .agg(aggs.head, aggs.tail: _*)
    drain(s, board, "complete")
      .where(col("day") < SentinelMs / 86400000L)
      .orderBy("day")
  }

  /** Streaming transition-matrix gate: per-user last-event state emits
    * within-session (from, to) steps, a grouped count keeps the live
    * matrix; the in-order replay reproduces the batch
    * [[graft.ops.Sessions.transitions]] exactly.
    */
  private def runTransitions(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsCol = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_millis(expr("ts DIV 1000000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_millis(unix_millis(
          col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case _ => timestamp_millis(unix_millis(col("ts")))
    }
    val stream = s.readStream.schema(sch).parquet(staged)
      .select(tsCol.as("ts"), col("user_id"), col("event_id"),
        col("event_type"))
      .where(col("ts") < timestamp_millis(lit(SentinelMs)))
    val out = graft.streaming.EventStream.transitions(stream,
      EventQueries.SessionGapMs, "0 seconds")
    drain(s, out, "update")
  }

  /** The frozen RFM frontier (max purchase ts), memoized per
    * (session, dir) — ONE scalar collected batch-side, the documented
    * eval-set-broadcast class of driver access: a live board scores
    * recency against a batch-refreshed frontier, not a wall clock.
    */
  private val rfmNowMemo = new ArtifactMemo[(SparkSession, String), java.lang.Long]
  private def rfmNow(s: SparkSession, dir: String): Long =
    rfmNowMemo((s, dir)) {
      java.lang.Long.valueOf(graft.core.SeriesOps.events(s, dir)
        .where(col("event_type") === "purchase")
        .agg(max(col("ts_ms"))).head().getLong(0))
    }.longValue

  /** Online RFM board gate: complete-mode per-user moments against the
    * frozen frontier; the final board ≡ the batch rfm oracle verbatim.
    */
  private def runRfm(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsMs = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_millis(col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => unix_millis(col("ts"))
    }
    val stream = s.readStream.schema(sch).parquet(staged)
      .select(tsMs.as("ts_ms"), col("user_id"), col("value"),
        col("event_type"))
      .where(col("event_type") === "purchase" &&
        col("ts_ms") < SentinelMs)
    drain(s, graft.ops.Sessions.rfmOnline(stream, rfmNow(s, dir)),
      "complete")
  }

  /** Online last-touch attribution gate: purchases credited against the
    * per-user last-click keyed state the moment they arrive; the batch
    * sweep SQL is the oracle verbatim.
    */
  private def runAttribution(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsCol = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_millis(expr("ts DIV 1000000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_millis(unix_millis(
          col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case _ => timestamp_millis(unix_millis(col("ts")))
    }
    val stream = s.readStream.schema(sch).parquet(staged)
      .select(tsCol.as("ts"), col("user_id"), col("event_id"),
        col("event_type"))
      .where(col("ts") < timestamp_millis(lit(SentinelMs)))
    drain(s, graft.streaming.EventStream.attribution(stream, "click",
      "purchase", windowMs = 259200000L, "0 seconds"), "append")
  }

  /** Online per-event lag features: the batch `events_features` rows as
    * the events arrive — last-event keyed state with the (ts, event_id)
    * frontier, oracle = the batch SQL verbatim (per-user ts ties fold in
    * event_id order, the batch window's tie order).
    */
  private def runFeatures(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsCol = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_millis(expr("ts DIV 1000000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_millis(unix_millis(
          col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case _ => timestamp_millis(unix_millis(col("ts")))
    }
    val stream = s.readStream.schema(sch).parquet(staged)
      .select(tsCol.as("ts"), col("user_id"), col("event_id"),
        col("event_type"))
      .where(col("ts") < timestamp_millis(lit(SentinelMs)))
    drain(s, graft.streaming.EventStream.lagFeatures(stream, "0 seconds"),
      "append")
  }

  /** Streaming rolling z-score gate: the purchase event stream keyed per
    * (event_type, user) series, scored online against the trailing-10
    * distribution. The replay arrives in event-time order, so the online
    * scores equal the batch [[graft.ops.Rolling.zscore]] bit-for-bit.
    */
  private def runZscore(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsCol = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_millis(expr("ts DIV 1000000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_millis(unix_millis(
          col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case _ => timestamp_millis(unix_millis(col("ts")))
    }
    val stream = s.readStream.schema(sch).parquet(staged)
      .select(tsCol.as("ts"), col("event_type"), col("user_id"),
        col("value"))
      .where(col("event_type") === "purchase" &&
        col("ts") < timestamp_millis(lit(SentinelMs)))
    import s.implicits._
    val out = graft.streaming.SeriesStream.zscore(s,
      stream.as[graft.streaming.SeriesStream.Ev], n = 10, threshold = 2.0)
    drain(s, out.toDF(), "append")
  }

  /** Streaming CUSUM gate: same replay/keying as [[runZscore]], Page's
    * drift score accumulated online — the state carries the EXACT
    * scale-10 decimal, so the replay is bit-for-bit ≡ the batch
    * closed form.
    */
  /** Streaming Holt gate: level+trend smoothed online, O(1) state per
    * series; in-order replay ≡ the batch fold bit-for-bit.
    */
  private def runHolt(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsCol = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_millis(expr("ts DIV 1000000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_millis(unix_millis(
          col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case _ => timestamp_millis(unix_millis(col("ts")))
    }
    val stream = s.readStream.schema(sch).parquet(staged)
      .select(tsCol.as("ts"), col("event_type"), col("user_id"),
        col("value"))
      .where(col("event_type") === "purchase" &&
        col("ts") < timestamp_millis(lit(SentinelMs)))
    import s.implicits._
    val out = graft.streaming.SeriesStream.holt(s,
      stream.as[graft.streaming.SeriesStream.Ev])
    drain(s, out.toDF(), "append")
  }

  private def runCusum(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsCol = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_millis(expr("ts DIV 1000000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_millis(unix_millis(
          col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case _ => timestamp_millis(unix_millis(col("ts")))
    }
    val stream = s.readStream.schema(sch).parquet(staged)
      .select(tsCol.as("ts"), col("event_type"), col("user_id"),
        col("value"))
      .where(col("event_type") === "purchase" &&
        col("ts") < timestamp_millis(lit(SentinelMs)))
    import s.implicits._
    val out = graft.streaming.SeriesStream.cusum(s,
      stream.as[graft.streaming.SeriesStream.Ev], ref = 60.0,
      threshold = 100.0)
    drain(s, out.toDF(), "append")
  }

  /** Streaming EWMA gate: same replay/keying as [[runZscore]], the
    * dyadic trailing-8 smoother scored online.
    */
  private def runEwma(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsCol = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_millis(expr("ts DIV 1000000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_millis(unix_millis(
          col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case _ => timestamp_millis(unix_millis(col("ts")))
    }
    val stream = s.readStream.schema(sch).parquet(staged)
      .select(tsCol.as("ts"), col("event_type"), col("user_id"),
        col("value"))
      .where(col("event_type") === "purchase" &&
        col("ts") < timestamp_millis(lit(SentinelMs)))
    import s.implicits._
    val out = graft.streaming.SeriesStream.ewma(s,
      stream.as[graft.streaming.SeriesStream.Ev], n = 8)
    drain(s, out.toDF(), "append")
  }

  /** Stream-static as-of gate: the purchase event stream enriched with
    * each user's latest prior click from the STATIC click history (the
    * packed-index posture — one stateless equi-join + row-local fold).
    */
  private def runAsof(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsCol = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_millis(expr("ts DIV 1000000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_millis(unix_millis(
          col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case _ => timestamp_millis(unix_millis(col("ts")))
    }
    val left = s.readStream.schema(sch).parquet(staged)
      .where(col("event_type") === "purchase" &&
        tsCol < timestamp_millis(lit(SentinelMs)))
      .select(col("user_id"), unix_millis(tsCol).as("ts_ms"), col("value"))
    val right = SeriesOps.events(s, dir, widen = false)
      .where(col("event_type") === "click")
      .select(col("user_id"), col("ts_ms"), col("value"))
    val idx = graft.streaming.AsofStream.packed(right, Seq("user_id"),
      "ts_ms", "value")
    val out = graft.streaming.AsofStream.asof(left, idx, Seq("user_id"),
      "ts_ms", "prior_click")
    drain(s, out, "append")
  }

  /** Streaming MAD gate: robust trailing-window anomaly online, same
    * replay/keying as [[runZscore]].
    */
  private def runMad(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsCol = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_millis(expr("ts DIV 1000000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_millis(unix_millis(
          col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case _ => timestamp_millis(unix_millis(col("ts")))
    }
    val stream = s.readStream.schema(sch).parquet(staged)
      .select(tsCol.as("ts"), col("event_type"), col("user_id"),
        col("value"))
      .where(col("event_type") === "purchase" &&
        col("ts") < timestamp_millis(lit(SentinelMs)))
    import s.implicits._
    val out = graft.streaming.SeriesStream.mad(s,
      stream.as[graft.streaming.SeriesStream.Ev], n = 15, threshold = 3.0)
    drain(s, out.toDF(), "append")
  }

  /** Streaming rate gate: last-point keyed state, PromQL reset
    * semantics, same replay/keying as [[runZscore]].
    */
  private def runRate(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = stagedSchema(s, s"$staged/events.parquet")
    val tsCol = sch("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_millis(expr("ts DIV 1000000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_millis(unix_millis(
          col("ts").cast(org.apache.spark.sql.types.TimestampType)))
      case _ => timestamp_millis(unix_millis(col("ts")))
    }
    val stream = s.readStream.schema(sch).parquet(staged)
      .select(tsCol.as("ts"), col("event_type"), col("user_id"),
        col("value"))
      .where(col("event_type") === "purchase" &&
        col("ts") < timestamp_millis(lit(SentinelMs)))
    import s.implicits._
    val out = graft.streaming.SeriesStream.rate(s,
      stream.as[graft.streaming.SeriesStream.Ev])
    drain(s, out.toDF(), "append")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_sessionize" -> ((s, d) => runSessionize(s, d)),
    "stream_funnel" -> ((s, d) => runFunnel(s, d)),
    "stream_funnel_window" -> ((s, d) => runFunnelWindow(s, d)),
    "stream_transitions" -> ((s, d) => runTransitions(s, d)),
    "stream_pivot" -> ((s, d) => runPivot(s, d)),
    "stream_features" -> ((s, d) => runFeatures(s, d)),
    "stream_active" -> ((s, d) => runActive(s, d)),
    "stream_zscore" -> ((s, d) => runZscore(s, d)),
    "stream_cusum" -> ((s, d) => runCusum(s, d)),
    "stream_holt" -> ((s, d) => runHolt(s, d)),
    "stream_ewma" -> ((s, d) => runEwma(s, d)),
    "stream_rate" -> ((s, d) => runRate(s, d)),
    "stream_mad" -> ((s, d) => runMad(s, d)),
    "stream_asof" -> ((s, d) => runAsof(s, d)),
    "stream_avg" -> ((s, d) =>
      runDql(s, d, AvgDql, "update", slotExact = false)),
    "stream_avg_slots" -> ((s, d) => runDql(s, d, AvgDql, "append")),
    "stream_dql_raw" -> ((s, d) => runDql(s, d, RawDql, "append")),
    "stream_dql_raw_trans" ->
      ((s, d) => runDql(s, d, RawTransDql, "append")),
    "stream_dql_raw_comb" ->
      ((s, d) => runDql(s, d, RawCombDql, "append")),
    "stream_dql_shift" -> ((s, d) => runDql(s, d, ShiftDql, "append")),
    "stream_multi_raw" ->
      ((s, d) => runDql(s, d, MultiRawDql, "append", withName = true)),
    "stream_group_avg" -> ((s, d) => runDql(s, d, GroupDql, "append")),
    "stream_dql_nested" -> ((s, d) => runDql(s, d, NestedDql, "append")),
    "stream_dql_group_agg" ->
      ((s, d) => runDql(s, d, AggOverGroupDql, "append")),
    "stream_dql_top" -> ((s, d) =>
      runDql(s, d, TopDql, "complete", slotExact = false,
        topBoard = true)),
    // the DQL pipeline registry ON THE STREAM: same parse→resolve path
    // as the batch dql_pipeline_* gates, dispatched to the row-local /
    // frozen-artifact stream operators; oracles are the batch mirrors
    "stream_dql_pipeline_quality" -> ((s, d) =>
      runDqlPipeline(s, d, "SELECT quality() LAST 30 d")),
    "stream_dql_pipeline_classifier" -> ((s, d) =>
      runDqlPipeline(s, d,
        "SELECT quality_trained(32, 10, 0.001, 55, 0.1) LAST 30 d")),
    "stream_dql_pipeline_dedup" -> ((s, d) =>
      runDqlPipeline(s, d, "SELECT dedup_minhash(0.5) LAST 30 d")),
    // span scrubs from the language on the firehose: the frozen
    // (session, corpus, n) gram artifacts probed per arrival — update
    // mode like the direct stream_scrub gates (one doc-keyed re-group)
    "stream_dql_pipeline_scrub" -> ((s, d) =>
      runDqlPipeline(s, d, "SELECT scrub(8) LAST 30 d", "update")),
    "stream_dql_pipeline_scrub_keepfirst" -> ((s, d) =>
      runDqlPipeline(s, d, "SELECT scrub_keepfirst(8) LAST 30 d",
        "update")),
    "stream_comb_diff" -> ((s, d) => runDql(s, d, CombDql, "append")),
    "stream_conf_count" -> ((s, d) => runDql(s, d, ConfDql, "update")),
    "stream_derivate" -> ((s, d) => runDql(s, d, DerivDql, "append")),
    "stream_hist" -> ((s, d) => runDql(s, d, HistDql, "append")),
    "stream_multi" -> ((s, d) =>
      runDql(s, d, MultiDql, "append", withName = true)),
    "stream_multi_conf" -> ((s, d) =>
      runDql(s, d, MultiConfDql, "append", withName = true)),
    "stream_dedup" -> ((s, d) => runDedup(s, d)),
    "stream_neardup" -> ((s, d) => runNearDup(s, d)),
    "stream_spans" -> ((s, d) => runSpans(s, d)),
    "stream_scrub" -> ((s, d) => runScrub(s, d)),
    "stream_scrub_keepfirst" -> ((s, d) => runScrubKeepFirst(s, d)),
    "stream_decon" -> ((s, d) => runDecon(s, d)),
    "stream_decon_fuzzy" -> ((s, d) => runDeconFuzzy(s, d)),
    "stream_quality" -> ((s, d) => runQuality(s, d)),
    "stream_bpe_encode" -> ((s, d) => runBpeEncode(s, d)),
    "stream_source_quality" -> ((s, d) => runSourceQuality(s, d)),
    "stream_vocab" -> ((s, d) => runVocab(s, d)),
    "stream_gopher" -> ((s, d) => runGopher(s, d)),
    "stream_logprob" -> ((s, d) => runLogProb(s, d)),
    "stream_ppl_buckets" -> ((s, d) => runPplBuckets(s, d)),
    "stream_tfidf" -> ((s, d) => runTfidf(s, d)),
    "stream_dsir" -> ((s, d) => runDsir(s, d)),
    "stream_quota" -> ((s, d) => runQuota(s, d)),
    "stream_attribution" -> ((s, d) => runAttribution(s, d)),
    "stream_rfm" -> ((s, d) => runRfm(s, d)),
    "stream_repetition" -> ((s, d) => runRepetition(s, d)),
    "stream_entropy" -> ((s, d) => runEntropy(s, d)),
    "stream_chunks" -> ((s, d) => runChunks(s, d)),
    "stream_hash_features" -> ((s, d) => runHashFeatures(s, d)),
    "stream_classifier" -> ((s, d) => runClassifier(s, d)),
    "stream_redact" -> ((s, d) => runRedact(s, d)),
    "stream_sample" -> ((s, d) => runSample(s, d)),
    "stream_decisions" -> ((s, d) => runDecisions(s, d)),
    "stream_range" -> ((s, d) => runRange(s, d)),
    "stream_rrf" -> ((s, d) => runRrf(s, d)),
    "stream_dim_stats" -> ((s, d) => runDimStats(s, d)),
    "stream_project" -> ((s, d) => runProject(s, d)),
    "stream_sim" -> ((s, d) => runSim(s, d)),
    "stream_sim_probe" -> ((s, d) => runSim(s, d, nProbe = 3)),
    "stream_sim_sq8" -> ((s, d) => runSimSq8(s, d)),
    "stream_sim_sq8_probe" -> ((s, d) => runSimSq8(s, d, nProbe = 3)),
    "stream_sim_sq8_rerank" -> ((s, d) => runSimSq8Rerank(s, d)),
    "stream_sim_pq" -> ((s, d) => runSimPq(s, d)),
    "stream_sim_pq_probe" -> ((s, d) => runSimPq(s, d, nProbe = 3)),
    "stream_sim_pq_rerank" -> ((s, d) => runSimPqRerank(s, d)),
    "stream_sim_pq_probe_rerank" -> ((s, d) =>
      runSimPqRerank(s, d, nProbe = 3)),
    "stream_sim_pq_residual" -> ((s, d) => runSimPqResidual(s, d)),
    "stream_sim_pq_residual_probe" -> ((s, d) =>
      runSimPqResidual(s, d, nProbe = 3)),
    "stream_sim_pq_residual_rerank" -> ((s, d) =>
      runSimPqResidualRerank(s, d, nProbe = 3)),
    "stream_sim_pq_residual_trained" -> ((s, d) =>
      runSimPqResidualTrained(s, d)))

  def oracle: Map[String, String] = Map(
    // stream residual rerank ≡ batch ivfPqResidualRerankTopKProbed
    "stream_sim_pq_residual_rerank" ->
      graft.pipeline.Similarity.ivfPqResidualRerankTopKProbedSql(
        8, 8, 16, Dim, 5, 15, 3, "10, 11, 12"),
    // frozen-LM stream scoring over the same corpus ≡ batch self-scoring
    "stream_logprob" -> graft.pipeline.TextOps.unigramLogProbSql,
    // frozen LM + frozen cuts, self-scored on the replay corpus — the
    // batch bucket oracle verbatim
    "stream_ppl_buckets" -> graft.pipeline.Curation.pplBucketsSql(
      graft.pipeline.TextOps.unigramLogProbSql),
    // frozen df table, self-scored on the replay — batch oracle verbatim
    "stream_tfidf" -> graft.pipeline.TextOps.tfidfTopKSql(3),
    "stream_dsir" -> graft.pipeline.Dsir.admitSql(64, "lang = 'en'", 2.0),
    "stream_quota" -> graft.streaming.DocStream.quotaAdmitSql("source", 15),
    "stream_attribution" ->
      graft.ops.Sessions.attributionSql("click", "purchase", 259200000L),
    "stream_rfm" -> graft.ops.Sessions.rfmSql,
    // session_window state ≡ the batch lag/cumsum session derivation
    "stream_sessionize" ->
      graft.ops.Sessions.sessionizeStreamSql(EventQueries.SessionGapMs),
    // keyed funnel state + live counts ≡ the batch strictly-ordered funnel
    "stream_funnel" ->
      graft.ops.Sessions.funnelSql(EventQueries.FunnelSteps),
    // chained dedup→windowed-count ≡ the batch DAU/WAU board
    "stream_active" ->
      graft.ops.Sessions.activeUsersSql(86400000L, 7),
    // keyed funnel state with the conversion deadline ≡ the batch
    // deadline funnel (zero-converter steps emit no row online; every
    // step converts at least one user in the testdata, same as funnel)
    "stream_funnel_window" -> graft.ops.Sessions.funnelWithinSql(
      EventQueries.FunnelSteps, 259200000L),
    // keyed last-event state + live counts ≡ the batch session-bounded
    // transition matrix
    "stream_transitions" ->
      graft.ops.Sessions.transitionsSql(EventQueries.SessionGapMs),
    // final complete-mode board ≡ the batch pivot, same oracle verbatim
    "stream_pivot" -> EventQueries.oracle("events_pivot"),
    // online lag features ≡ the batch window rows, same oracle verbatim
    "stream_features" -> EventQueries.oracle("events_features"),
    // keyed rolling state ≡ the batch dyadic trailing-window smoother
    "stream_ewma" ->
      s"""WITH base AS (SELECT event_type || '.' || CAST(user_id AS VARCHAR)
         |                 AS metric,
         |               CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value
         |           FROM events WHERE event_type = 'purchase'),
         |${graft.ops.Rolling.ewmaSql(8)}
         |ORDER BY metric, ts_ms""".stripMargin,
    // stateless packed-index probe ≡ DuckDB's native ASOF JOIN
    "stream_asof" ->
      """WITH l AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
        |               value
        |           FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS rts,
        |             value AS pv
        |      FROM events WHERE event_type = 'click')
        |SELECT l.user_id, l.ts_ms, l.value, r.pv AS prior_click
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND r.rts <= l.ts_ms
        |ORDER BY l.user_id, l.ts_ms""".stripMargin,
    // keyed rolling state ≡ the batch robust MAD anomaly
    "stream_mad" ->
      s"""WITH base AS (SELECT event_type || '.' || CAST(user_id AS VARCHAR)
         |                 AS metric,
         |               CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value
         |           FROM events WHERE event_type = 'purchase'),
         |${graft.ops.Rolling.madSql(15, 3.0)}
         |ORDER BY metric, ts_ms""".stripMargin,
    // keyed last-point state ≡ the batch counter-reset rate
    "stream_rate" ->
      s"""WITH base AS (SELECT event_type || '.' || CAST(user_id AS VARCHAR)
         |                 AS metric,
         |               CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value
         |           FROM events WHERE event_type = 'purchase'),
         |${graft.ops.Rolling.rateSql}
         |ORDER BY metric, ts_ms""".stripMargin,
    // keyed rolling state ≡ the batch trailing-window z-score
    // in-order replay of the exact-decimal recursion ≡ the batch
    // closed-form CUSUM over the same per-point decimals
    "stream_cusum" ->
      s"""WITH base AS (SELECT event_type || '.' || CAST(user_id AS VARCHAR)
         |                 AS metric,
         |               CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value
         |           FROM events WHERE event_type = 'purchase'),
         |${graft.ops.Rolling.cusumSql(60.0, 100.0)}
         |ORDER BY metric, ts_ms""".stripMargin,
    "stream_holt" ->
      s"""WITH RECURSIVE base AS (
         |  SELECT event_type || '.' || CAST(user_id AS VARCHAR) AS metric,
         |         CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value
         |  FROM events WHERE event_type = 'purchase'),
         |${graft.ops.Rolling.holtSql}
         |ORDER BY metric, ts_ms""".stripMargin,
    "stream_zscore" ->
      s"""WITH base AS (SELECT event_type || '.' || CAST(user_id AS VARCHAR)
         |                 AS metric,
         |               CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value
         |           FROM events WHERE event_type = 'purchase'),
         |${graft.ops.Rolling.zscoreSql(10, 2.0)}
         |ORDER BY metric, ts_ms""".stripMargin,
    // raw-event windowed mean, the single-stage stream
    "stream_avg" ->
      s"""SELECT event_type || '.' || CAST(user_id AS VARCHAR) AS metric,
         |       ${Exact.wstartSql("CAST(epoch_ms(ts) AS BIGINT)", WinMs)} AS ws,
         |       ${Exact.davgSql("value")} AS value
         |FROM events WHERE event_type = 'purchase'
         |GROUP BY 1, 2""".stripMargin,
    // slot-then-window mean, the batch series model the chained stream
    // mirrors (same derivation as the batch gates' series CTE)
    "stream_avg_slots" ->
      s"""WITH series AS (${SeriesOps.seriesSql})
         |SELECT metric, ${Exact.wstartSql("ts_ms", WinMs)} AS ws,
         |       ${Exact.davgSql("value")} AS value
         |FROM series WHERE mtype = 'purchase'
         |GROUP BY 1, 2""".stripMargin,
    // RAW select (no aggregation): the slot rows themselves — the series
    // CTE IS the batch leaf's slot collapse
    "stream_dql_raw" ->
      s"""WITH series AS (${SeriesOps.seriesSql})
         |SELECT metric, ts_ms AS ws, value
         |FROM series WHERE mtype = 'purchase'""".stripMargin,
    // pointwise transform over the raw slot rows
    "stream_dql_raw_trans" ->
      s"""WITH series AS (${SeriesOps.seriesSql})
         |SELECT metric, ts_ms AS ws, value * 3 AS value
         |FROM series WHERE mtype = 'purchase'""".stripMargin,
    // SHIFT BY 90 s: windows computed on the ORIGINAL grid, labels
    // re-stamped +90 s (the batch Compiler.run form) - the non-multiple
    // shift pins that the stream does not re-bucket shifted events
    "stream_dql_shift" ->
      s"""WITH series AS (${SeriesOps.seriesSql})
         |SELECT metric,
         |       ${Exact.wstartSql("ts_ms", WinMs)} + 90000 AS ws,
         |       ${Exact.davgSql("value")} AS value
         |FROM series WHERE mtype = 'purchase'
         |GROUP BY metric, ${Exact.wstartSql("ts_ms", WinMs)}""".stripMargin,
    // all-raw funnel: each selector's slot rows under its default
    // (unparsed-selector) name - the tag-explode fused form, one shared
    // collapse, no stateful union
    "stream_multi_raw" -> {
      val Seq(nP, nE) = selectorNames(MultiRawDql).map(_.replace("'", "''"))
      s"""WITH series AS (${SeriesOps.seriesSql})
         |SELECT '$nP' AS name, metric, ts_ms AS ws, value
         |FROM series WHERE mtype = 'purchase'
         |UNION ALL
         |SELECT '$nE' AS name, metric, ts_ms AS ws, value
         |FROM series WHERE mtype = 'error'""".stripMargin
    },
    // pointwise combinator over raw slot rows: per-slot pivot + the
    // quotient fold (div-by-zero -> div-by-one, null propagates)
    "stream_dql_raw_comb" ->
      s"""WITH series AS (${SeriesOps.seriesSql}),
         |p AS (SELECT ts_ms,
         |        MAX(CASE WHEN mtype = 'purchase' THEN value END) AS c0,
         |        MAX(CASE WHEN metric = 'purchase.1' THEN value END) AS c1
         |      FROM series WHERE mtype = 'purchase'
         |      GROUP BY 1)
         |SELECT 'quotient' AS metric, ts_ms AS ws,
         |       CASE WHEN c1 = 0.0 THEN c0 ELSE c0 / c1 END AS value
         |FROM p""".stripMargin,
    // GROUP BY $'type' USING avg: per-slot davg across the group's member
    // series (group window = resolution), metric = the tag value
    "stream_group_avg" ->
      s"""WITH series AS (${SeriesOps.seriesSql})
         |SELECT mtype AS metric, ts_ms AS ws,
         |       ${Exact.davgSql("value")} AS value
         |FROM series WHERE mtype = 'purchase'
         |GROUP BY 1, 2""".stripMargin,
    // nested aggregation (window-over-window chain): 1 m means summed
    // into 5 m windows — the outer group reads the inner windows' starts
    "stream_dql_nested" ->
      s"""WITH series AS (${SeriesOps.seriesSql}),
         |h AS (SELECT metric, ${Exact.wstartSql("ts_ms", WinMs)} AS ws,
         |             ${Exact.davgSql("value")} AS value
         |      FROM series WHERE mtype = 'purchase' GROUP BY 1, 2)
         |SELECT metric, ${Exact.wstartSql("ws", 5 * WinMs)} AS ws,
         |       ${Exact.dsumSql("value")} AS value
         |FROM h GROUP BY 1, 2""".stripMargin,
    // aggregation OVER a GROUP BY lookup: per-slot cross-series sum
    // under the 'purchase' group, then a 5 m windowed max over the
    // grouped series
    "stream_dql_group_agg" ->
      s"""WITH series AS (${SeriesOps.seriesSql}),
         |g AS (SELECT mtype AS metric, ts_ms,
         |             ${Exact.dsumSql("value")} AS value
         |      FROM series WHERE mtype = 'purchase' GROUP BY 1, 2)
         |SELECT metric, ${Exact.wstartSql("ts_ms", 5 * WinMs)} AS ws,
         |       MAX(value) AS value
         |FROM g GROUP BY 1, 2""".stripMargin,
    // complete-mode leader board: per-series running mean over RAW
    // arrivals (the documented slotExact=false semantics), top 3 with
    // the (score desc, metric) tiebreak; ws = slot-floored latest event
    "stream_dql_top" ->
      s"""WITH sc AS (
         |  SELECT event_type || '.' || CAST(user_id AS VARCHAR) AS metric,
         |         (MAX(CAST(epoch_ms(ts) AS BIGINT)) // 1000) * 1000 AS ws,
         |         ${Exact.davgSql("value")} AS value
         |  FROM events WHERE event_type = 'error' GROUP BY 1)
         |SELECT metric, ws, value FROM sc
         |ORDER BY value DESC, metric LIMIT 3""".stripMargin,
    // fused diff(sum, avg) over the slot values of all purchase series per
    // 1 m window; both children share the selector so neither is null
    "stream_comb_diff" ->
      s"""WITH series AS (${SeriesOps.seriesSql}),
         |w AS (SELECT ${Exact.wstartSql("ts_ms", WinMs)} AS ws,
         |             ${Exact.dsumSql("value")} AS c0,
         |             ${Exact.davgSql("value")} AS c1
         |      FROM series WHERE mtype = 'purchase' GROUP BY 1)
         |SELECT 'diff' AS metric, ws, c0 - c1 AS value FROM w""".stripMargin,
    // count_above_conf 0.5: presence is {0,1} per slot, so the count of
    // qualifying slots is the count of PRESENT slots in the window
    "stream_conf_count" ->
      s"""WITH series AS (${SeriesOps.seriesSql})
         |SELECT metric, ${Exact.wstartSql("ts_ms", WinMs)} AS ws,
         |       CAST(COUNT(*) AS BIGINT) AS value
         |FROM series WHERE mtype = 'purchase' AND muser = 1
         |GROUP BY 1, 2""".stripMargin,
    // derivate over the windowed avg: diff to the previous PRESENT window
    // per metric; the head point carries its successor's diff
    // (v'(0)=v'(1)), a single-window series yields NULL
    "stream_derivate" ->
      s"""WITH series AS (${SeriesOps.seriesSql}),
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
         |FROM d""".stripMargin,
    // fused §2.7 histogram reduction: int-round, DROP outside [0, htv]
    // (htv=100 bites — slot values reach ~185), discrete p90 per window
    "stream_hist" ->
      s"""WITH series AS (${SeriesOps.seriesSql})
         |SELECT metric, ${Exact.wstartSql("ts_ms", WinMs)} AS ws,
         |       CAST(list_sort(list(CAST(ROUND(value, 0) AS BIGINT)))
         |         [GREATEST(1, CAST(CEIL(0.9 * COUNT(value)) AS BIGINT))]
         |         AS DOUBLE) AS value
         |FROM series
         |WHERE mtype = 'purchase'
         |  AND CAST(ROUND(value, 0) AS BIGINT) BETWEEN 0 AND 100
         |GROUP BY 1, 2""".stripMargin,
    // fused multi-selector funnel: one row per selector per (metric,
    // window), each under its batch default name (unparsed selector text)
    "stream_multi" -> {
      val Seq(nAvg, nMax) = selectorNames(MultiDql).map(_.replace("'", "''"))
      s"""WITH series AS (${SeriesOps.seriesSql}),
         |w AS (SELECT metric, ${Exact.wstartSql("ts_ms", WinMs)} AS ws,
         |             ${Exact.davgSql("value")} AS vavg, MAX(value) AS vmax
         |      FROM series WHERE mtype = 'purchase' GROUP BY 1, 2)
         |SELECT '$nAvg' AS name, metric, ws, vavg AS value FROM w
         |UNION ALL
         |SELECT '$nMax' AS name, metric, ws, vmax AS value FROM w""".stripMargin
    },
    // mixed conf/value funnel: the avg selector aggregates slot values,
    // the conf selector counts PRESENT slots (presence {0,1} > 0.5 ⇔ the
    // slot exists in the series CTE); the stream's stack() coerces the
    // BIGINT count to the union's common DOUBLE, so the oracle casts too
    "stream_multi_conf" -> {
      val Seq(nAvg, nCnt) =
        selectorNames(MultiConfDql).map(_.replace("'", "''"))
      s"""WITH series AS (${SeriesOps.seriesSql}),
         |w AS (SELECT metric, ${Exact.wstartSql("ts_ms", WinMs)} AS ws,
         |             ${Exact.davgSql("value")} AS vavg,
         |             CAST(COUNT(*) AS DOUBLE) AS vcnt
         |      FROM series WHERE mtype = 'purchase' GROUP BY 1, 2)
         |SELECT '$nAvg' AS name, metric, ws, vavg AS value FROM w
         |UNION ALL
         |SELECT '$nCnt' AS name, metric, ws, vcnt AS value FROM w""".stripMargin
    },
    // exact streaming dedup keeps one row per distinct text hash; the SET
    // of kept hashes is deterministic (which duplicate wins is not)
    "stream_dedup" ->
      "SELECT DISTINCT md5(text) AS text_hash FROM documents",
    // streaming decontamination of the train split against the eval
    // split: the batch decon_ngram semantics, so the batch oracle applies
    "stream_decon" -> graft.pipeline.Curation.decontaminateSql(3),
    // stream-static probes of the eval band index ≡ the batch fuzzy-
    // decon pair set (banding is a per-document property)
    "stream_decon_fuzzy" ->
      graft.pipeline.Curation.decontaminateFuzzySql(0.5, 5),
    // the batch text-quality operator runs unchanged on the stream, so
    // the batch oracle applies verbatim
    "stream_quality" -> graft.pipeline.TextOps.qualitySql,
    // streaming DQL pipeline registry (r17): the DQL text compiles onto
    // the replay and dispatches to the same operators the batch
    // dql_pipeline_* gates run, so the batch mirrors apply verbatim
    "stream_dql_pipeline_quality" -> graft.pipeline.TextOps.qualitySql,
    "stream_dql_pipeline_classifier" ->
      graft.pipeline.Classifier.heldOutScoreSql(32, 10, 0.001, 55, 0.1),
    // arrivals probed against the frozen corpus band index flag the
    // batch pair set in both directions (the stream_neardup identity)
    "stream_dql_pipeline_dedup" ->
      s"""SELECT doc_id, match_id, jaccard FROM (
         |  SELECT doc_a AS doc_id, doc_b AS match_id, jaccard
         |  FROM (${graft.pipeline.Dedup.minhashPairsSql(0.5)})
         |  UNION ALL
         |  SELECT doc_b AS doc_id, doc_a AS match_id, jaccard
         |  FROM (${graft.pipeline.Dedup.minhashPairsSql(0.5)}))""".stripMargin,
    // the DQL scrub spellings dispatch to the stream scrub operators
    // against the shared gram artifacts, so the batch rewrite oracles
    // apply verbatim (the stream_scrub / stream_scrub_keepfirst pins)
    "stream_dql_pipeline_scrub" ->
      graft.pipeline.Dedup.substringScrubSql(8),
    "stream_dql_pipeline_scrub_keepfirst" ->
      graft.pipeline.Dedup.substringScrubKeepFirstSql(8),
    "stream_bpe_encode" -> graft.pipeline.Bpe.encodeCountsSql(4,
      "doc_id % 5 <> 0", "doc_id % 5 = 0"),
    // live scoreboard: final complete-mode board ≡ the batch per-source
    // table, same oracle verbatim
    "stream_source_quality" -> graft.pipeline.TextOps.sourceQualitySql(0.46),
    // batch rule battery stateless on the stream, batch oracle verbatim
    "stream_gopher" -> graft.pipeline.TextOps.gopherRulesSql(
      stopList = graft.pipeline.TextOps.Stopwords),
    // live heavy-hitter leaderboard: final complete-mode board ≡ the
    // batch occurrence counts (doc frequency needs a distinct aggregate,
    // unsupported over streams — occurrence-only by design)
    "stream_vocab" ->
      """WITH ws AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |            FROM documents),
        |tok AS (SELECT s AS word FROM ws, unnest(w) AS t(s))
        |SELECT word, COUNT(*) AS n_occ FROM tok GROUP BY 1
        |ORDER BY n_occ DESC, word ASC LIMIT 50""".stripMargin,
    "stream_repetition" -> graft.pipeline.TextOps.repetitionSql,
    // row-local unigram entropy stateless on the stream, batch oracle
    // verbatim (the run-boundary fold carries no cross-row state)
    "stream_entropy" -> graft.pipeline.TextOps.entropySql,
    // row-local chunk fan-out stateless on the stream, batch oracle
    "stream_chunks" -> graft.pipeline.TextOps.chunksSql(32, 24),
    // row-local feature hashing stateless on the stream, batch oracle
    "stream_hash_features" -> graft.pipeline.TextOps.hashFeaturesSql(64),
    // the scorer is stateless and the replay covers the training corpus,
    // so the batch train+score oracle applies verbatim
    "stream_classifier" ->
      graft.pipeline.Classifier.trainScoreSql(32, 10, 0.001, 55),
    // batch redaction over batch injection, both stateless on the stream
    "stream_redact" -> graft.pipeline.TextOps.redactPiiSql,
    // the batch stratified-sampling operator verbatim on the stream
    "stream_sample" -> graft.pipeline.Curation.sampleStratifiedSql("lang",
      Map("en" -> 0.5, "es" -> 0.25, "de" -> 0.1), 0.2,
      "doc_id, lang, source"),
    // per-document online verdicts: first-arrival dup + quality floor
    "stream_decisions" -> graft.pipeline.Corpus.streamDecisionsSql(0.46),
    // the packed-index online ANN must reproduce the batch IVF search —
    // same corpus, same query set, same parameters, same oracle
    // online radius search ≡ the batch bucketed range search (plain
    // threshold, no rank — stream/batch agree with no tie-break story)
    "stream_range" -> graft.pipeline.Similarity.rangeSearchLshSql(
      4, Dim, 0.1, "SELECT vec_id FROM embeddings WHERE vec_id < 5"),
    // online drift monitor: final complete-mode board ≡ batch moments
    "stream_dim_stats" -> graft.pipeline.Similarity.dimStatsSql(Dim),
    "stream_project" -> graft.pipeline.Pca.projectSql(Dim, 3),
    // online hybrid fusion ≡ the batch RRF of the same two retrievals
    "stream_rrf" -> graft.pipeline.Similarity.rrfFuseSql(
      graft.pipeline.Similarity.ivfTopKSql(8, Dim, 10, "10, 11, 12"),
      graft.pipeline.Similarity.lshTopKSql(6, Dim, 10, "10, 11, 12"), 5),
    "stream_sim" -> graft.pipeline.Similarity.ivfTopKSql(8, Dim, 5,
      "10, 11, 12"),
    // multi-probe online ANN ≡ the batch nProbe=3 search
    "stream_sim_probe" -> graft.pipeline.Similarity.ivfTopKProbedSql(
      8, Dim, 5, 3, "10, 11, 12"),
    // quantized online ANN ≡ the batch quantized-only ranking
    "stream_sim_sq8" -> graft.pipeline.Similarity.ivfSq8QuantTopKSql(
      8, Dim, 5, "10, 11, 12"),
    // multi-probe over the quantized index ≡ the batch nProbe=3 form
    "stream_sim_sq8_probe" -> graft.pipeline.Similarity
      .ivfSq8QuantTopKProbedSql(8, Dim, 5, 3, "10, 11, 12"),
    // quantized shortlist + full-precision rerank on the stream ≡ the
    // batch ivfSq8TopK at the batch gate's (k=5, rerank=15)
    "stream_sim_sq8_rerank" -> graft.pipeline.Similarity
      .ivfSq8TopKSql(8, Dim, 5, 15, "10, 11, 12"),
    // codes-only PQ ranking on the stream ≡ the batch ivfPqTopK oracle
    "stream_sim_pq" -> graft.pipeline.Similarity
      .ivfPqTopKSql(8, 8, 16, Dim, 5, "10, 11, 12"),
    // probed PQ ranking on the stream ≡ the batch ivfPqTopKProbed oracle
    "stream_sim_pq_probe" -> graft.pipeline.Similarity
      .ivfPqTopKProbedSql(8, 8, 16, Dim, 5, 3, "10, 11, 12"),
    // PQ shortlist + full-precision rerank on the stream ≡ the batch
    // ivfPqRerankTopK at the batch gate's (k=5, rerank=15)
    "stream_sim_pq_rerank" -> graft.pipeline.Similarity
      .ivfPqRerankTopKSql(8, 8, 16, Dim, 5, 15, "10, 11, 12"),
    // probed PQ shortlist + full-precision rerank on the stream ≡ the
    // batch ivfPqRerankTopKProbed at the same (k, rerank, nProbe)
    "stream_sim_pq_probe_rerank" -> graft.pipeline.Similarity
      .ivfPqRerankTopKProbedSql(8, 8, 16, Dim, 5, 15, 3, "10, 11, 12"),
    // the online residual-PQ (IVFADC) search ≡ the batch residual
    // ranking at the same parameters
    "stream_sim_pq_residual" -> graft.pipeline.Similarity
      .ivfPqResidualTopKProbedSql(8, 8, 16, Dim, 5, 1, "10, 11, 12"),
    "stream_sim_pq_residual_probe" -> graft.pipeline.Similarity
      .ivfPqResidualTopKProbedSql(8, 8, 16, Dim, 5, 3, "10, 11, 12"),
    // online trained IVFADC ≡ the batch trained search
    "stream_sim_pq_residual_trained" -> graft.pipeline.Similarity
      .ivfPqResidualTrainedTopKProbedSql(8, 8, 16, Dim, 5, 3,
        "10, 11, 12", iters = 2),
    // replaying the corpus against its own band index flags the batch
    // minhash pair set, both directions
    "stream_neardup" ->
      s"""SELECT doc_id, match_id, jaccard FROM (
         |  SELECT doc_a AS doc_id, doc_b AS match_id, jaccard
         |  FROM (${graft.pipeline.Dedup.minhashPairsSql(0.5)})
         |  UNION ALL
         |  SELECT doc_b AS doc_id, doc_a AS match_id, jaccard
         |  FROM (${graft.pipeline.Dedup.minhashPairsSql(0.5)}))""".stripMargin,
    "stream_spans" -> graft.pipeline.Dedup.spanHitsSql(8),
    // the scrub emits once per replayed document, so the batch rewrite
    // oracle applies verbatim
    "stream_scrub" -> graft.pipeline.Dedup.substringScrubSql(8),
    // keep-one semantics online: the artifact carries the canonical
    // keys, so the replayed corpus scrubs exactly as the batch form
    "stream_scrub_keepfirst" ->
      graft.pipeline.Dedup.substringScrubKeepFirstSql(8))
}
