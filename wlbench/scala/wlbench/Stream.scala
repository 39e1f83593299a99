package wlbench

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.core.{Layout, SeriesOps}
import graft.dql.LayoutStore
import graft.streaming.{SeriesIngest, SeriesStream, StreamingDql}

/** Records the progress of every streaming micro-batch. */
final class ProgressListener extends StreamingQueryListener {
  val rows = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    rows.add(Seq(p.name, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      d("triggerExecution"), d("queryPlanning"), d("addBatch"),
      d("latestOffset") + d("getBatch"), d("walCommit"), d("commitOffsets"),
      p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum))
  }
}

/** The open-loop event source of one pair of streaming queries: each event
  * is stamped with its creation time and added to both memory streams
  * (one per query: a memory stream drops what one reader committed).
  * Event contents come from the plan's seed; types rotate evenly.
  */
final class EventGen(ingestIn: MemoryStream[SeriesStream.Ev],
                     dqlIn: MemoryStream[SeriesStream.Ev], seed: Long,
                     types: Seq[String], users: Seq[Long], windowMs: Long) {
  private val rng = new java.util.Random(seed)
  private var n = 0L
  val events = ArrayBuffer.empty[SeriesStream.Ev]
  /** (metric, window start) -> creation time of its last event */
  val lastInWindow = new ConcurrentHashMap[(String, Long), Long]()

  /** Adds `count` events created now; `ageMs` back-dates them (set-up only). */
  def emit(count: Int, ageMs: Long = 0L): Unit = synchronized {
    val now = Clock.ms.toLong - ageMs
    val ts = new Timestamp(now)
    val batch = (0 until count).map { _ =>
      val t = types((n % types.length).toInt)
      val u = users(rng.nextInt(users.length))
      val v = math.round(-50.0 * math.log(1.0 - rng.nextDouble()) * 100) / 100.0
      n += 1
      lastInWindow.merge((s"$t.$u", now - now % windowMs), now,
        (a: Long, b: Long) => math.max(a, b))
      SeriesStream.Ev(ts, t, u, v)
    }
    events ++= batch
    ingestIn.addData(batch)
    dqlIn.addData(batch)
  }
}

/** `stream_ingest`: an open-loop generator feeds `SeriesIngest` (writing the
  * dt-partitioned Layout table) and one windowed `StreamingDql` query at a
  * fixed rate, while closed-loop readers query the growing table through
  * `LayoutStore`; the run ends by draining fixed backlogs.
  */
final class Stream(runner: Runner) {
  import runner._
  private val st = plan.obj("stream")
  private val types = st.strs("types")
  private val users = st.longs("users")
  private val seed = plan.long("seed")
  private val ratePerS = st.int("rate_per_s")
  private val tickMs = st.int("tick_ms")
  private val perTick = ratePerS * tickMs / 1000
  private val windowMs = st.long("window_ms")
  private val readers = st.objs("readers").map(r => (r.str("name"), r.str("dql")))
  private val root = plan.str("run_dir") + "/stream"
  private val listener = new ProgressListener
  spark.streams.addListener(listener)
  private implicit val sqlCtx: SQLContext = spark.sqlContext
  import spark.implicits._

  /** Freshness samples: (emit time, creation time of the window's last event). */
  private val fresh = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Double]]()

  private final class Pipeline(dir: String) {
    // a stream fixes its shuffle partitions when it first starts
    spark.conf.set("spark.sql.shuffle.partitions", st.str("shuffle_partitions"))
    val ingestIn = MemoryStream[SeriesStream.Ev]
    val dqlIn = MemoryStream[SeriesStream.Ev]
    val gen = new EventGen(ingestIn, dqlIn, seed, types, users, windowMs)
    val layoutPath = s"$dir/layout"
    val ingest: StreamingQuery = SeriesIngest.start(
      ingestIn.toDF(), layoutPath, s"$dir/ckpt-ingest", st.str("ingest_watermark"))
    private val sink: (DataFrame, Long) => Unit = (df, _) => {
      val rows = df.select("metric", "ws").collect()
      val at = Clock.ms
      rows.foreach { r =>
        Option(gen.lastInWindow.get((r.getString(0), r.getLong(1))))
          .foreach(last => fresh.add(Seq(at, last.toDouble)))
      }
    }
    val dql: StreamingQuery =
      StreamingDql.compile(dqlIn.toDF(), st.str("dql"), st.str("dql_watermark"))
        .writeStream.queryName("dql-" + dir.split("/").last).outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt-dql")
        .foreachBatch(sink).start()
    spark.conf.set("spark.sql.shuffle.partitions", plan.str("cores"))

    def settle(): Unit = { ingest.processAllAvailable(); dql.processAllAvailable() }

    /** Makes the Layout table hold the slots of the first batch: slots are
      * written once the watermark passes them, and a watermark takes
      * effect in the batch after the one that moved it.
      */
    def prime(): Unit = (0 until 2).foreach { _ => gen.emit(1); settle() }
    def stop(): Unit = { ingest.stop(); dql.stop() }
  }

  private def layoutFiles(path: String): (Long, Long) = {
    val fs = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try {
      val files = fs.iterator.asScala.filter(p =>
        p.toString.endsWith(".parquet") && java.nio.file.Files.isRegularFile(p)).toSeq
      (files.length.toLong, files.map(p => java.nio.file.Files.size(p)).sum)
    } finally fs.close()
  }

  /** Runs the generator at the fixed rate on its own thread while `body`
    * runs; returns how late each tick fired (ms).
    */
  private def generating[T](p: Pipeline)(body: => T): (T, Seq[Double]) = {
    val exec = Executors.newSingleThreadScheduledExecutor()
    val lateness = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val t0 = Clock.ms
    val ticks = new AtomicLong(0)
    exec.scheduleAtFixedRate(() => {
      val k = ticks.getAndIncrement()
      lateness.add(Clock.ms - (t0 + k * tickMs))
      p.gen.emit(perTick)
    }, 0, tickMs, TimeUnit.MILLISECONDS)
    try (body, lateness.asScala.toSeq) finally {
      exec.shutdown()
      exec.awaitTermination(60, TimeUnit.SECONDS)
    }
  }

  private def readerOp(store: LayoutStore, i: Int): Unit = {
    val (name, tmpl) = readers(i % readers.length)
    val t = types((i / readers.length) % types.length)
    dqlOp(name, i / readers.length, store, tmpl.replace("$t", t), Clock.ms.toLong)
  }

  /** Closed-loop readers, one per thread, running reader queries while
    * `more(queries done)` holds; query `i` picks the template and type.
    * In a traced run every other reader pass is traced. Returns the next
    * query index.
    */
  private def reading(store: LayoutStore, from: Int, trace: Boolean)(
      more: Int => Boolean): Int = {
    val next = new java.util.concurrent.atomic.AtomicInteger(from)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val error = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until st.int("reader_threads")).map { _ =>
      val t = new Thread(() =>
        try {
          while (more(done.get) && error.get == null) {
            val i = next.getAndIncrement()
            rec.setTracing(trace && (i - from) / readers.length % 2 == 0)
            readerOp(store, i)
            done.incrementAndGet()
          }
        } catch { case e: Throwable => error.compareAndSet(null, e) })
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(error.get).foreach(e => throw e)
    next.get
  }

  def run(): Map[String, Any] = {
    // set-up: start both queries on fresh directories and commit a first
    // fixed batch (back-dated, so the next batches can write its slots);
    // the last repetition's pipeline is the one measured
    val pipes = (0 until setupReps).map { r =>
      val t0 = Clock.ms
      val pipe = new Pipeline(s"$root/rep$r")
      pipe.gen.emit(st.int("setup_events"), ageMs = 10000L)
      pipe.settle()
      (pipe, (Clock.ms - t0) / 1000)
    }
    val setupS = pipes.map(_._2)
    val p = pipes.last._1
    // the other repetitions' queries stop together
    pipes.init.map(x => new Thread(() => x._1.stop())).map { t => t.start(); t }
      .foreach(_.join())
    p.prime()
    val store = new LayoutStore(p.layoutPath)
    // warm-up: fixed work, the generator running for a fixed number of
    // ticks and the readers running a fixed number of queries
    val warmupTicks = st.int("warmup_ticks")
    mark("setup")
    val before = rec.ops.length
    val t0 = Clock.ms
    val (firstTimed, _) = generating(p) {
      reading(store, 0, trace = false)(n =>
        n < st.int("warmup_reader_ops") || Clock.ms - t0 < warmupTicks * tickMs)
    }
    val warm = rec.ops.drop(before).sortBy(_.start).map(_.ms).toSeq
    rec.ops.remove(before, rec.ops.length - before)
    mark("warmup")
    val h = new Health.Window(spark)
    val (files0, bytes0) = layoutFiles(p.layoutPath)
    val winStart = Clock.ms
    val (_, lateness) = generating(p) {
      reading(store, firstTimed, rec.traceRun)(n =>
        Clock.ms - winStart < seconds * 1000 || n < minOps)
    }
    val winEnd = Clock.ms
    val (files1, bytes1) = layoutFiles(p.layoutPath)
    val healthRow = h.close()
    mark("timed")
    // the heap is read with both queries idle, so no micro-batch is in flight
    p.settle()
    val heap = Health.liveHeapMb
    // drains: a fixed backlog added at once; `stats.drain_rates` times it
    // to the end of the last micro-batch, of either query, that read it
    val drains = (0 until st.int("drains")).map { _ =>
      val t = Clock.ms
      p.gen.emit(st.int("backlog_events"))
      p.settle()
      Map("start_ms" -> t, "end_ms" -> Clock.ms, "events" -> st.int("backlog_events"))
    }
    // output check, outside the timed window: flush the ingest watermark
    // past every slot, then the Layout table must equal the batch series
    // derivation of the same events
    val flushTs = new Timestamp(Clock.ms.toLong + 3600000L)
    (0 until 2).foreach { _ =>
      p.ingestIn.addData(SeriesStream.Ev(flushTs, "flush", -1L, 0.0))
      p.ingest.processAllAvailable()
    }
    p.stop()
    val evDir = s"$root/events"
    p.gen.events.zipWithIndex
      .map { case (e, i) => (i.toLong, e.ts, e.user_id, e.event_type, e.value) }.toSeq
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$evDir/events.parquet")
    val cols = Seq("metric", "mtype", "muser", "ts_ms", "value")
    val stored = Layout.readSeries(spark, p.layoutPath).select(cols.map(col): _*)
    val batch = SeriesOps.seriesFresh(spark, evDir).select(cols.map(col): _*)
    val layoutOk = stored.exceptAll(batch).isEmpty && batch.exceptAll(stored).isEmpty
    spark.streams.removeListener(listener)
    mark("checks")
    Map("setup_reps_s" -> setupS, "warmup_pass_median_ms" -> warm,
      "window" -> Map("start" -> winStart, "end" -> winEnd),
      "health" -> healthRow, "live_heap_mb" -> heap,
      "stream" -> Map(
        "progress" -> listener.rows.asScala.toSeq,
        "freshness" -> fresh.asScala.toSeq,
        "lateness_ms" -> lateness,
        "drains" -> drains,
        "layout" -> Map("files" -> (files1 - files0), "bytes" -> (bytes1 - bytes0)),
        "events" -> p.gen.events.length),
      "checks" -> Map(
        "layout_equals_batch_derivation" -> layoutOk,
        "freshness_samples" -> !fresh.isEmpty))
  }
}
