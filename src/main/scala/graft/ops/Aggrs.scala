package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.core.Exact

/** The 20 windowed aggregations of SURVEY §2.2 (reference:
  * `src/dqe_*_aggr.erl`). Each folds one tumbling window of points into one
  * point. Two definitions per op, kept in lockstep:
  *
  *   - `spark(name, c)`: the aggregate as a Catalyst expression over
  *     `(value, ts_ms)` — plain `functions._`, codegen'd, map-side
  *     combinable. No UDFs.
  *   - `sql(name, c, v, ts)`: the DuckDB mirror for the oracle gate.
  *
  * The `*_conf` family (reference `src/dqe_*_conf_aggr.erl`) is the same
  * six threshold ops applied to the confidence channel — callers pass the
  * `confidence` column as `v`.
  *
  * Percentile/median are **discrete** (k-th smallest, k = max(1, ceil(p*n)))
  * rather than interpolated: exact order statistics are reproducible
  * bit-for-bit across engines, and the reference's `mmath_aggr:percentile`
  * interpolation flavor is unspecified in-repo (SURVEY §7.3) — choice
  * pinned here and in the oracle.
  */
object Aggrs {
  val names: Seq[String] = Seq(
    "sum", "avg", "min", "max", "variance", "stddev", "median", "percentile",
    "count_above", "count_below", "first_above", "first_below",
    "last_above", "last_below")

  /** MEMORY BOUND: [[kth]] collects one group's values into a sorted
    * array, so per-group memory is O(group rows). For every DQL shape
    * that reaches it the group is one (series, window) slot — rows =
    * window width / resolution, thousands at most — and the salted
    * two-phase path (core/Skew) auto-engages for the sum-family
    * aggregates long before any group is large. The cap below is the
    * loud-failure backstop for misuse outside those shapes (a 100×
    * window or a percentile over an unwindowed firehose): 8M rows ≈
    * 64 MB of array per group — still safely collectable — raises a
    * descriptive error instead of letting a 10× further scale-up become
    * an opaque executor OOM.
    */
  val KthGroupRowBound: Int = 8 * 1024 * 1024

  private[graft] def kthBounded(v: Column, p: Double,
                                bound: Int): Column = {
    val arr = array_sort(collect_list(v))
    val guarded = when(size(arr) <= lit(bound), arr)
      .otherwise(raise_error(concat(
        lit(s"percentile group exceeds KthGroupRowBound=$bound rows: "),
        size(arr).cast("string"),
        lit(" — widen the resolution or pre-aggregate the window"))))
    // 0-based get (null out of bounds), never ANSI element_at: an
    // all-gap window collects an EMPTY array (collect_list skips null
    // gap values) and its k-th is NULL on both engines — the DuckDB
    // mirror's list index already yields NULL there, while
    // element_at(empty, 1) would kill the query under Spark 4's
    // default ANSI mode (r17 review; determinism conventions)
    get(guarded,
      (greatest(lit(1L), ceil(lit(p) * size(arr).cast("double"))
        .cast("long")) - 1L).cast("int"))
  }

  /** k-th-smallest discrete quantile, deterministic across engines.
    *
    * Memory bound: the only §2.2 aggregate whose per-group state is
    * O(window points) rather than O(1) — the window's values are collected
    * and sorted in the finishing task. The reference's own read envelope
    * caps a window at `max_read` = 1.2 M points (BASELINE.md), ≈ tens of MB
    * of aggregation buffer per group, well inside a default executor; a
    * 10⁶-point window is exercised in OpsSemanticsSpec without raising
    * driver memory. Beyond that envelope, swap in `approx_percentile`
    * (t-digest, O(1) state) — not done by default because the oracle gates
    * require the exact order statistic.
    */
  private def kth(v: Column, p: Double): Column =
    kthBounded(v, p, KthGroupRowBound)

  /** Aggregate expression over (value, ts) for one window group. */
  def spark(name: String, c: Option[Double]): (Column, Column) => Column = {
    def k = c.get
    name match {
      case "sum"         => (v, _) => Exact.dsum(v)
      case "avg"         => (v, _) => Exact.davg(v)
      case "min"         => (v, _) => min(v)
      case "max"         => (v, _) => max(v)
      case "variance"    => (v, _) => Exact.dvarPop(v)
      case "stddev"      => (v, _) => Exact.dstddevPop(v)
      case "median"      => (v, _) => kth(v, 0.5)
      case "percentile"  => (v, _) => kth(v, k)
      case "count_above" => (v, _) => count(when(v > k, 1))
      case "count_below" => (v, _) => count(when(v < k, 1))
      // first/last value crossing the threshold, in time order: arg-min /
      // arg-max over ts restricted to qualifying rows (null ts ignored by
      // min_by/max_by on both engines).
      case "first_above" => (v, ts) => min_by(v, when(v > k, ts))
      case "first_below" => (v, ts) => min_by(v, when(v < k, ts))
      case "last_above"  => (v, ts) => max_by(v, when(v > k, ts))
      case "last_below"  => (v, ts) => max_by(v, when(v < k, ts))
    }
  }

  /** DuckDB mirror; `v`/`ts` are SQL expressions for the two channels. */
  def sql(name: String, c: Option[Double], v: String, ts: String): String = {
    def k = c.get
    def kthSql(p: Double): String =
      s"list_sort(list($v))[GREATEST(1, CAST(CEIL($p * COUNT($v)) AS BIGINT))]"
    name match {
      case "sum"         => Exact.dsumSql(v)
      case "avg"         => Exact.davgSql(v)
      case "min"         => s"MIN($v)"
      case "max"         => s"MAX($v)"
      case "variance"    => Exact.dvarPopSql(v)
      case "stddev"      => Exact.dstddevPopSql(v)
      case "median"      => kthSql(0.5)
      case "percentile"  => kthSql(k)
      case "count_above" => s"COUNT(CASE WHEN $v > $k THEN 1 END)"
      case "count_below" => s"COUNT(CASE WHEN $v < $k THEN 1 END)"
      case "first_above" => s"MIN_BY($v, CASE WHEN $v > $k THEN $ts END)"
      case "first_below" => s"MIN_BY($v, CASE WHEN $v < $k THEN $ts END)"
      case "last_above"  => s"MAX_BY($v, CASE WHEN $v > $k THEN $ts END)"
      case "last_below"  => s"MAX_BY($v, CASE WHEN $v < $k THEN $ts END)"
    }
  }
}
