package wlbench

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.Graft
import graft.core.Caches
import graft.dql.{Compiler, Parser, SeriesStore}

/** Entry point: `wlbench.Main <plan.json> <raw-out.json>`.
  *
  * Runs one workload of the plan on a `local[cores]` session and writes the
  * raw samples (operation intervals, set-up repetitions, health, checks
  * and, in a traced run, layer spans and Spark stages) to the output file.
  * All arithmetic on the samples is done by `stats.py`.
  */
object Main {
  def session(plan: Plan): SparkSession = {
    val cores = plan.int("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("wlbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.dql.sim.ncells", graft.dql.DqlArtifacts.NCells.toString)
      .config("spark.graft.dql.sim.bits", graft.dql.DqlArtifacts.Bits.toString)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.artifact.isolation.enabled", "false")
      // the status stores keep every query, job and stage even with the UI
      // off; capped, so the live heap does not grow with the op count
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.dagGraph.retainedRootRDDs", "10")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "10")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10")
      .config("spark.sql.warehouse.dir", plan.str("run_dir") + "/warehouse")
      .config("spark.local.dir", plan.str("tmp_dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(planPath, outPath) = args
    val plan = Plan.load(planPath)
    val t0 = Clock.ms
    val spark = session(plan)
    val sessionS = (Clock.ms - t0) / 1000
    val rec = new Recorder(spark, plan.bool("trace"))
    val run = new Runner(spark, plan, rec)
    val out = plan.str("workload") match {
      case "dql_dashboard" => new Dashboard(run).run()
      case "curate_batch" => new Curate(run).run()
      case "stream_ingest" => new Stream(run).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val all = out ++ Map(
      "marks" -> run.marks.toSeq.map { case (k, v) => Seq(k, v) },
      "session_start_s" -> sessionS, "session_ready_ms" -> (t0 + sessionS * 1000),
      "ops" -> rec.ops.map(o => Map("id" -> o.id, "kind" -> o.kind,
        "pass" -> o.pass, "start" -> o.start, "end" -> o.end,
        "traced" -> o.traced) ++ o.extra),
      "trace" -> rec.traceJson)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(outPath), all)
    spark.stop()
  }
}

/** Shared machinery of the workloads. */
final class Runner(val spark: SparkSession, val plan: Plan,
                   val rec: Recorder) {
  val seconds: Double = plan.dbl("seconds")
  val minOps: Int = plan.int("min_ops")
  val setupReps: Int = plan.int("setup_reps")
  val warmupPasses: Int = plan.int("warmup_passes")

  /** One DQL operation: construction (`Graft.query`, or parse + compile
    * separately when traced) and a `collect` action. Traced operations
    * also record Catalyst phases, codegen, scanned rows and artifact use.
    */
  def dqlOp(kind: String, pass: Int, store: SeriesStore, dql: String,
            nowMs: Long): (Array[Row], DataFrame) = {
    val id = rec.newOp()
    val traced = rec.tracingNow
    val cg0 = if (traced) PlanStats.codegen else (0L, 0.0)
    var df: DataFrame = null
    var reads, builds = 0
    val start = Clock.ms
    val rows = rec.span("op", id) {
      def body = {
        df = rec.inOp(id, "construct") {
          if (!traced) Graft.query(spark, store, dql, nowMs)
          else {
            val q = rec.span("dql.parse", id)(Parser.parse(dql))
            rec.span("dql.compile", id)(
              new Compiler(spark, store, nowMs).compile(q))
          }
        }
        rec.inOp(id, "action")(rec.span("exec.action", id)(df.collect()))
      }
      if (!traced) body
      else {
        val (r, rd, bd) = Caches.traceArtifacts(body)
        reads = rd.size; builds = bd.size
        r
      }
    }
    val end = Clock.ms
    val scanned = PlanStats.scannedRows(df)
    val base = Map("rows_out" -> rows.length, "rows_scanned" -> scanned,
      "files_read" -> PlanStats.filesRead(df))
    val extra: Map[String, Any] =
      if (!traced) base
      else {
        PlanStats.phases(df).foreach { case (ph, s, e) =>
          rec.addSpan(s"catalyst.$ph", id,
            if (ph == "analysis") "dql.compile" else "exec.action", s, e)
        }
        val cg1 = PlanStats.codegen
        base ++ Map("codegen_n" -> (cg1._1 - cg0._1),
          "codegen_ms" -> (cg1._2 - cg0._2),
          "artifact_reads" -> reads, "artifact_builds" -> builds,
          "join_rows_max" -> PlanStats.maxJoinRows(df))
      }
    rec.record(Op(id, kind, pass, start, end, traced, extra))
    (rows, df)
  }

  /** A non-DQL operation (artifact refresh + re-probe); `body` returns
    * the number of rows it produced.
    */
  def op(kind: String, pass: Int)(body: Long => Long): Long = {
    val id = rec.newOp()
    val traced = rec.tracingNow
    val start = Clock.ms
    var reads, builds = 0
    val rows = rec.span("op", id) {
      rec.inOp(id, "action") {
        if (!traced) body(id)
        else {
          val (x, rd, bd) = Caches.traceArtifacts(body(id))
          reads = rd.size; builds = bd.size
          x
        }
      }
    }
    rec.record(Op(id, kind, pass, start, Clock.ms, traced,
      Map("rows_out" -> rows) ++ (if (traced) Map("artifact_reads" -> reads,
        "artifact_builds" -> builds) else Map.empty)))
    rows
  }

  /** Run `body` and drop the operations it recorded. */
  def discard[T](body: => T): T = {
    val before = rec.ops.length
    try body finally rec.ops.remove(before, rec.ops.length - before)
  }

  /** Set-up repeated `setupReps` times; returns each repetition's seconds. */
  def setup(rep: Int => Unit): Seq[Double] =
    (0 until setupReps).map { r =>
      val t0 = Clock.ms
      discard(rep(r))
      (Clock.ms - t0) / 1000
    }

  /** Fixed-work warm-up: `warmupPasses` whole passes, returning each
    * pass's median operation latency (ms) so the output shows whether
    * latency stopped falling before timing starts.
    */
  def warmup(pass: Int => Unit, firstPass: Int): Seq[Double] =
    (0 until warmupPasses).map { w =>
      val before = rec.ops.length
      discard {
        pass(firstPass + w)
        val lat = rec.ops.drop(before).map(_.ms).sorted
        val n = lat.length
        if (n % 2 == 1) lat(n / 2) else (lat(n / 2 - 1) + lat(n / 2)) / 2
      }
    }

  /** Whole passes until both `seconds` have elapsed and `minOps` timed
    * operations exist. In a traced run every other pass is traced, so the
    * untraced passes give the trace overhead. Returns the pass count and
    * each pass's wall time (ms).
    */
  def timed(pass: Int => Unit, firstPass: Int): (Int, Seq[Double]) = {
    val opsBefore = rec.ops.length
    val start = Clock.ms
    var p = 0
    val walls = ArrayBuffer.empty[Double]
    while ((Clock.ms - start) < seconds * 1000 ||
           rec.ops.length - opsBefore < minOps) {
      rec.setTracing(rec.traceRun && p % 2 == 0)
      val t0 = Clock.ms
      pass(firstPass + p)
      walls += Clock.ms - t0
      p += 1
    }
    rec.setTracing(false)
    (p, walls.toSeq)
  }

  def force(df: DataFrame): Long = df.collect().length.toLong

  /** Wall-clock marks at the end of each phase of the run. */
  val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def mark(phase: String): Unit = marks(phase) = Clock.ms
}
