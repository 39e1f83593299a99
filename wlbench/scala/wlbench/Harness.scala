package wlbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The run plan written by `gen.py` (a JSON object). */
final class Plan(val node: JsonNode) {
  def str(k: String): String = node.get(k).asText
  def int(k: String): Int = node.get(k).asInt
  def long(k: String): Long = node.get(k).asLong
  def dbl(k: String): Double = node.get(k).asDouble
  def bool(k: String): Boolean = node.get(k).asBoolean
  def obj(k: String): Plan = new Plan(node.get(k))
  def objs(k: String): Seq[Plan] =
    node.get(k).elements.asScala.map(new Plan(_)).toSeq
  def strs(k: String): Seq[String] =
    node.get(k).elements.asScala.map(_.asText).toSeq
  def longs(k: String): Seq[Long] =
    node.get(k).elements.asScala.map(_.asLong).toSeq
}

object Plan {
  def load(path: String): Plan =
    new Plan(new ObjectMapper().readTree(new java.io.File(path)))
}

/** Wall-clock milliseconds with sub-millisecond resolution, on the same
  * epoch as Spark's listener timestamps.
  */
object Clock {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def ms: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed operation: a panel query, a curation step or a reader query. */
final case class Op(id: Long, kind: String, pass: Int, start: Double,
                    end: Double, traced: Boolean,
                    extra: Map[String, Any] = Map.empty) {
  def ms: Double = end - start
}

/** Collects the timed operations and, in a traced run, the layer spans
  * and the Spark jobs and stages behind each operation. Spans are kept in
  * memory and written out once at the end of the run.
  */
final class Recorder(spark: SparkSession, val traceRun: Boolean) {
  private val nextOp = new AtomicLong(0)
  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Seq[Any]]
  private val spanStack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val tracing = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  val listener: Option[StageListener] =
    if (traceRun) Some(new StageListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)

  def newOp(): Long = nextOp.incrementAndGet()

  /** Run `body` as operation `id`: Spark jobs it starts carry the op id
    * and `phase` as local properties, so the listener can attribute them.
    */
  def inOp[T](id: Long, phase: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("wlbench.op", id.toString)
    sc.setLocalProperty("wlbench.phase", phase)
    try body finally {
      sc.setLocalProperty("wlbench.op", null)
      sc.setLocalProperty("wlbench.phase", null)
    }
  }

  /** Whether spans are recorded on this thread right now. */
  def tracingNow: Boolean = tracing.get()
  def setTracing(on: Boolean): Unit = tracing.set(on)

  /** A layer span around `body`; a no-op unless tracing is on. */
  def span[T](name: String, op: Long)(body: => T): T =
    if (!tracing.get()) body
    else {
      val parent = spanStack.get().headOption.getOrElse(-1)
      val idx = spans.synchronized {
        spans += Seq(name, op, parent, Clock.ms, Double.NaN); spans.length - 1
      }
      spanStack.set(idx :: spanStack.get())
      try body finally {
        spanStack.set(spanStack.get().tail)
        spans.synchronized {
          spans(idx) = spans(idx).updated(4, Clock.ms)
        }
      }
    }

  /** A span whose interval was measured elsewhere (Catalyst phases). */
  def addSpan(name: String, op: Long, parentName: String, start: Double,
              end: Double): Unit = if (tracing.get()) spans.synchronized {
    val parent = spans.lastIndexWhere(s => s(0) == parentName && s(1) == op)
    spans += Seq(name, op, parent, start, end)
  }

  def record(op: Op): Unit = ops.synchronized { ops += op }

  def traceJson: Map[String, Any] = Map(
    "spans" -> spans.synchronized(spans.toList),
    "jobs" -> listener.map(_.jobRows).getOrElse(Nil),
    "stages" -> listener.map(_.stageRows).getOrElse(Nil))
}

/** Spark listener that attributes jobs and stages to the harness's ops. */
final class StageListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, Array[Any]]()
  private val stageOp = new ConcurrentHashMap[Int, (Long, String)]()
  private val stages = new ConcurrentHashMap[Int, Seq[Any]]()
  private val failed = new ConcurrentHashMap[Int, AtomicLong]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty("wlbench.op")))
      .map(_.toLong).getOrElse(-1L)
    val phase = p.flatMap(x => Option(x.getProperty("wlbench.phase")))
      .getOrElse("none")
    jobs.put(e.jobId, Array(e.jobId, op, phase, e.time.toDouble, Double.NaN))
    e.stageIds.foreach(s => stageOp.putIfAbsent(s, (op, phase)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_(4) = e.time.toDouble)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != org.apache.spark.Success)
      failed.computeIfAbsent(e.stageId, _ => new AtomicLong).incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val (op, phase) = Option(stageOp.get(i.stageId)).getOrElse((-1L, "none"))
    val m = i.taskMetrics
    val cpuMs = if (m == null) 0.0 else m.executorCpuTime / 1e6
    val gcMs = if (m == null) 0L else m.jvmGCTime
    val shuffle = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten
    val spill =
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled
    val input = if (m == null) 0L else m.inputMetrics.bytesRead
    stages.put(i.stageId * 1000 + i.attemptNumber(), Seq(i.stageId, op, phase,
      i.submissionTime.getOrElse(0L).toDouble,
      i.completionTime.getOrElse(0L).toDouble, i.numTasks, cpuMs, gcMs,
      shuffle, spill, input,
      Option(failed.get(i.stageId)).map(_.get).getOrElse(0L)))
  }
  def jobRows: Seq[Seq[Any]] = jobs.values.asScala.map(_.toSeq).toSeq
  def stageRows: Seq[Seq[Any]] = stages.values.asScala.toSeq
}

/** Reads what an executed query scanned from its final physical plan. */
object PlanStats extends AdaptiveSparkPlanHelper {
  /** Rows the plan's leaf scans (parquet or in-memory) produced. */
  def scannedRows(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case p: SparkPlan if p.children.isEmpty =>
        p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum

  /** Files the plan's parquet scans read. */
  def filesRead(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case p: SparkPlan if p.children.isEmpty =>
        p.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  /** The largest row count any join in the plan produced. */
  def maxJoinRows(df: DataFrame): Long = {
    val rows = collectWithSubqueries(df.queryExecution.executedPlan) {
      case p: SparkPlan if p.nodeName.contains("Join") =>
        p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
    if (rows.isEmpty) 0L else rows.max
  }

  /** Catalyst phases (analysis, optimization, planning) of the frame's
    * query execution as (name, startMs, endMs).
    */
  def phases(df: DataFrame): Seq[(String, Double, Double)] =
    df.queryExecution.tracker.phases.toSeq.map { case (k, s) =>
      (k, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
    }

  /** Spark codegen compilations so far: (count, total ms). */
  def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }
}

/** Host-noise diagnostics for the health line. None of these is a metric. */
object Health {
  private def cpuTicks: (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (xs.sum, if (xs.length > 7) xs(7) else 0L)
    } catch { case _: Exception => (0L, 0L) } finally f.close()
  }
  def loadavg: Double = try {
    val f = scala.io.Source.fromFile("/proc/loadavg")
    try f.getLines().next().split(" ")(0).toDouble finally f.close()
  } catch { case _: Exception => -1.0 }
  def gc: (Long, Long) = {
    val beans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }

  /** Fixed-work calibration job: a shuffle-free scan of a generated
    * range. Its time moves only with the host, never with graft.
    */
  def calibrate(spark: SparkSession): Double = {
    val t0 = Clock.ms
    spark.range(0L, 10000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(hash(id))").collect()
    Clock.ms - t0
  }

  final class Window(spark: SparkSession) {
    private val (tot0, steal0) = cpuTicks
    private val (gcN0, gcMs0) = gc
    val load0: Double = loadavg
    (0 until 2).foreach(_ => calibrate(spark)) // compiles the job's code
    val calib0: Double = calibrate(spark)
    def close(): Map[String, Any] = {
      val calib1 = calibrate(spark)
      val (tot1, steal1) = cpuTicks
      val (gcN1, gcMs1) = gc
      Map("steal_pct" -> (if (tot1 > tot0) 100.0 * (steal1 - steal0) /
          (tot1 - tot0) else 0.0),
        "load_start" -> load0, "load_end" -> loadavg,
        "gc_count" -> (gcN1 - gcN0), "gc_pause_ms" -> (gcMs1 - gcMs0),
        "calib_before_ms" -> calib0, "calib_after_ms" -> calib1)
    }
  }

  /** Heap still in use after full GCs: the heap pools' usage right after
    * the last full collection, as the collector reports it, so objects
    * other threads (running streams) allocate after it do not count.
    * Between collections the Spark context cleaner gets time to drop the
    * shuffles and broadcasts the previous collection found unreachable.
    */
  def liveHeapMb: Double = {
    import java.lang.management.{ManagementFactory, MemoryType}
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(150) }
    System.gc()
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val full = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case b: com.sun.management.GarbageCollectorMXBean
          if b.getLastGcInfo != null && !b.getName.matches(".*(Young|Scavenge|Copy).*") => b
    }.maxBy(_.getLastGcInfo.getEndTime)
    full.getLastGcInfo.getMemoryUsageAfterGc.asScala
      .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum / 1048576.0
  }
}
