package wlbench

import graft.core.{Caches, Exact, SeriesOps}
import graft.dql.{Parser, TestdataStore, Unparse}

/** The twelve dashboard panels, one per DQL family, with their DuckDB
  * mirrors. `t` is the event type (rotated per pass), `u` the seed-chosen
  * user(s), [a, b) the seed-chosen range.
  */
object Panels {
  val Hour = 3600000L
  val Day = 86400000L

  def dql(name: String, t: String, u: Seq[Long], a: Long, b: Long): String =
    name match {
      case "aggr" =>
        s"SELECT avg('$t'.'${u(0)}' BUCKET 'testdata', 1 h) BETWEEN $a AND $b"
      case "glob" =>
        s"SELECT avg('$t'.* BUCKET 'testdata', 1 d) BETWEEN $a AND $b"
      case "where" =>
        s"SELECT avg('$t' FROM 'testdata' WHERE 'graft':'user' = '${u(0)}', 1 h) BETWEEN $a AND $b"
      case "group_by" =>
        s"SELECT '$t' FROM 'testdata' WHERE 'graft':'user' = '${u(0)}' OR " +
          s"'graft':'user' = '${u(1)}' GROUP BY $$'graft':'user' USING avg BETWEEN $a AND $b"
      case "top" =>
        s"SELECT avg('$t'.* BUCKET 'testdata', 1 d) BETWEEN $a AND $b TOP 3 BY avg()"
      case "shift" =>
        s"SELECT avg('$t'.'${u(0)}' BUCKET 'testdata', 1 h) SHIFT BY 1 d BETWEEN $a AND $b"
      case "derivate" =>
        s"SELECT derivate('$t'.'${u(0)}' BUCKET 'testdata') BETWEEN $a AND $b"
      case "conf" =>
        s"SELECT count_above_conf('$t'.'${u(0)}' BUCKET 'testdata', 0.5, 1 h) BETWEEN $a AND $b"
      case "percentile" =>
        s"SELECT percentile('$t'.'${u(0)}' BUCKET 'testdata', 0.9, 1 h) BETWEEN $a AND $b"
      case "histogram" =>
        s"SELECT percentile(histogram('$t'.'${u(0)}' BUCKET 'testdata', 1000, 3, 1 h), 0.9) BETWEEN $a AND $b"
      case "multi" =>
        s"SELECT avg('$t'.'${u(0)}' BUCKET 'testdata', 1 d), " +
          s"max('$t'.'${u(0)}' BUCKET 'testdata', 1 d) BETWEEN $a AND $b"
      case "events" =>
        s"SELECT EVENTS FROM 'testdata' WHERE 'k' > 50 AND 'event_type' == '$t' BETWEEN $a AND $b"
    }

  private def nameOf(dql: String, sel: Int = 0): String =
    Unparse.expr(Parser.parse(dql).selectors(sel).expr).replace("'", "''")

  private def ser(body: String) =
    s"WITH series AS (${SeriesOps.seriesSql})\n$body"

  private def winAgg(name: String, cond: String, w: Long, agg: String,
                     a: Long, b: Long): String =
    ser(s"""SELECT '$name' AS name, metric,
       |       ${Exact.wstartSql("ts_ms", w)} AS ts_ms, $agg AS value
       |FROM (SELECT metric, ts_ms, value FROM series
       |      WHERE $cond AND ts_ms >= $a AND ts_ms < $b)
       |GROUP BY 1, 2, 3""".stripMargin)

  private def kth(p: Double, v: String = "value") =
    s"list_sort(list($v))[GREATEST(1, CAST(CEIL($p * COUNT($v)) AS BIGINT))]"

  /** DuckDB SQL giving the same rows as `dql(name, ...)`. */
  def oracle(name: String, t: String, u: Seq[Long], a: Long, b: Long): String = {
    val q = dql(name, t, u, a, b)
    val n = nameOf(q)
    val m = s"$t.${u.headOption.getOrElse(0L)}"
    val avg = Exact.davgSql("value")
    name match {
      case "aggr" => winAgg(n, s"metric = '$m'", Hour, avg, a, b)
      case "glob" => winAgg(n, s"mtype = '$t'", Day, avg, a, b)
      case "where" =>
        winAgg(n, s"mtype = '$t' AND muser = ${u(0)}", Hour, avg, a, b)
      case "group_by" => ser(
        s"""SELECT '$n' AS name, CAST(muser AS VARCHAR) AS metric, ts_ms,
           |       $avg AS value
           |FROM series WHERE mtype = '$t' AND (muser = ${u(0)} OR muser = ${u(1)})
           |  AND ts_ms >= $a AND ts_ms < $b
           |GROUP BY 1, 2, 3""".stripMargin)
      case "top" => ser(
        s"""SELECT * FROM (
           |  SELECT '$n' AS name, metric, ${Exact.wstartSql("ts_ms", Day)} AS ts_ms,
           |         $avg AS value
           |  FROM series WHERE mtype = '$t' AND ts_ms >= $a AND ts_ms < $b
           |  GROUP BY 1, 2, 3) agg
           |WHERE metric IN (
           |  SELECT metric FROM (
           |    SELECT name, metric, $avg AS score FROM (
           |      SELECT '$n' AS name, metric, ${Exact.wstartSql("ts_ms", Day)} AS ts_ms,
           |             $avg AS value
           |      FROM series WHERE mtype = '$t' AND ts_ms >= $a AND ts_ms < $b
           |      GROUP BY 1, 2, 3) GROUP BY 1, 2)
           |  ORDER BY score DESC, name, metric LIMIT 3)""".stripMargin)
      case "shift" => ser(
        s"""SELECT '$n' AS name, metric,
           |       ${Exact.wstartSql("(ts_ms + " + Day + ")", Hour)} AS ts_ms,
           |       $avg AS value
           |FROM series WHERE metric = '$m'
           |  AND ts_ms + $Day >= $a AND ts_ms + $Day < $b
           |GROUP BY 1, 2, 3""".stripMargin)
      case "derivate" => ser(
        s"""SELECT '$n' AS name, metric, ts_ms, value FROM (
           |${graft.ops.Trans.derivateSql(
             s"(SELECT * FROM series WHERE metric = '$m' AND ts_ms >= $a AND ts_ms < $b)")})""".stripMargin)
      case "conf" => ser(
        s"""SELECT '$n' AS name, '$m' AS metric,
           |       ${Exact.wstartSql("s.ts_ms", Hour)} AS ts_ms,
           |       COUNT(x.value) AS value
           |FROM (SELECT CAST(range AS BIGINT) AS ts_ms FROM range($a, $b, 1000)) s
           |LEFT JOIN (SELECT ts_ms, value FROM series WHERE metric = '$m') x
           |  ON s.ts_ms = x.ts_ms
           |GROUP BY 1, 2, 3""".stripMargin)
      case "percentile" => winAgg(n, s"metric = '$m'", Hour, kth(0.9), a, b)
      case "histogram" => winAgg(n,
        s"metric = '$m' AND CAST(ROUND(value, 0) AS BIGINT) BETWEEN 0 AND 1000",
        Hour, s"CAST(${kth(0.9, "CAST(ROUND(value, 0) AS BIGINT)")} AS DOUBLE)",
        a, b)
      case "multi" =>
        val n1 = nameOf(q, 1)
        ser(s"""SELECT '$n' AS name, metric, ${Exact.wstartSql("ts_ms", Day)} AS ts_ms,
           |       $avg AS value
           |FROM series WHERE metric = '$m' AND ts_ms >= $a AND ts_ms < $b
           |GROUP BY 1, 2, 3
           |UNION ALL
           |SELECT '$n1' AS name, metric, ${Exact.wstartSql("ts_ms", Day)} AS ts_ms,
           |       MAX(value) AS value
           |FROM series WHERE metric = '$m' AND ts_ms >= $a AND ts_ms < $b
           |GROUP BY 1, 2, 3""".stripMargin)
      case "events" =>
        s"""SELECT event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_type, value
           |FROM events
           |WHERE CAST(epoch_ms(ts) AS BIGINT) >= $a AND CAST(epoch_ms(ts) AS BIGINT) < $b
           |  AND CAST(json_extract_string(props, '$$.k') AS DOUBLE) > 50
           |  AND event_type = '$t'""".stripMargin
    }
  }
}

/** `dql_dashboard`: one closed-loop client refreshing the fixed panel set
  * over the memoized series table of the base events.
  */
final class Dashboard(runner: Runner) {
  import runner._
  private val dataDir = plan.str("data_dir")
  private val store = new TestdataStore(dataDir)
  private val dash = plan.obj("dashboard")
  private val types = dash.strs("types")
  private val panels = dash.objs("panels")
  // "now" after the data, so relative timeframes never reach it
  private val nowMs = 1706745600000L

  /** Template name, event type, users and range of panel `i` in `pass`. */
  private def panel(i: Int, pass: Int) = {
    val p = panels(i)
    (p.str("name"), types((pass + i) % types.length), p.longs("users"),
      p.long("start_ms"), p.long("end_ms"))
  }

  private def panelOp(i: Int, p: Int): Unit = {
    val args = panel(i, p)
    dqlOp(args._1, p, store, (Panels.dql _).tupled(args), nowMs)
  }

  private def pass(p: Int): Unit = panels.indices.foreach(panelOp(_, p))

  def run(): Map[String, Any] = {
    // set-up: from evicted caches to the first panel's rows, which
    // includes building the memoized series table
    val setupS = setup { r =>
      Caches.evictArtifacts(spark, dataDir)
      Caches.releaseTransient(spark, blocking = true)
      panelOp(0, r)
    }
    mark("setup")
    val warm = warmup(pass, setupReps)
    mark("warmup")
    val h = new Health.Window(spark)
    val (passes, walls) = timed(pass, setupReps + warmupPasses)
    val healthRow = h.close()
    mark("timed")
    val heap = Health.liveHeapMb
    // output check: a seed-chosen sample of the panels in a seed-chosen
    // rotation, outside the timed window; `run.py` compares the rows with
    // DuckDB
    val checkPass = plan.int("check_pass")
    val checks = dash.longs("check_panels").map(_.toInt).map { i =>
      val args = panel(i, checkPass)
      val q = (Panels.dql _).tupled(args)
      val (rows, df) = discard(dqlOp(args._1, checkPass, store, q, nowMs))
      Map("name" -> args._1, "dql" -> q, "sql" -> (Panels.oracle _).tupled(args),
        "cols" -> df.columns.toSeq,
        "rows" -> rows.map(r => r.toSeq.map {
          case d: java.lang.Double => d.doubleValue
          case x => x
        }).toSeq)
    }
    mark("checks")
    Map("setup_reps_s" -> setupS, "warmup_pass_median_ms" -> warm,
      "window" -> Map("passes" -> passes, "pass_wall_ms" -> walls),
      "health" -> healthRow, "live_heap_mb" -> heap,
      "duck_checks" -> checks)
  }
}
