package graft.ops

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._
import graft.core.Exact

/** The 7 combinators of SURVEY §2.4 (reference: `src/dqe_*_comb.erl`):
  * N series → 1, element-wise across series aligned on timestamp.
  *
  * Semantics pins (under-specified in the reference, which gap-fills with
  * empty confidence-0 points and defers to mmath):
  *   - commutative ops (sum/avg/min/max) aggregate over the series *present*
  *     at each timestamp (empty points contribute nothing);
  *   - order-sensitive ops (diff/product/quotient) require all operands
  *     present, else the point is NULL. `diff` is first-minus-rest,
  *     `quotient` folds left with division-by-zero treated as division by
  *     one (src/dqe_quotient_comb.erl:28-31) — both fold in argument order
  *     and must NOT be commuted (SURVEY §7.3).
  *
  * Shape: one shuffle (groupBy ts). The order-sensitive path pivots the N
  * named series into columns with conditional aggregation — N is the arity
  * of the query, always small, so the fold is a plain codegen'd expression.
  *
  * [[pooled]], [[fold]] and [[groupUsing]] are the only definitions of the
  * combine functions: the batch DQL compiler (combinators and GROUP BY …
  * USING) and the streaming one call them too.
  */
object Combs {
  val names: Seq[String] = Seq("sum", "avg", "min", "max", "diff", "product",
    "quotient")

  /** sum/avg/min/max: one aggregate over every value pooled at a point */
  def pooled(op: String, v: Column): Column = op match {
    case "sum" => Exact.dsum(v)
    case "avg" => Exact.davg(v)
    case "min" => min(v)
    case "max" => max(v)
  }

  /** diff/product/quotient: a left fold over the operand columns in
    * argument order; a NULL operand makes the point NULL */
  def fold(op: String, operands: Seq[Column]): Column =
    operands.reduceLeft[Column]((a, c) => op match {
      case "diff"     => a - c
      case "product"  => a * c
      case "quotient" => when(c === 0.0, a).otherwise(a / c)
    })

  /** GROUP BY … USING `op` over the member series' (metric, value) rows:
    * `value` per group, beside `extra` aggregates. The order-sensitive ops
    * fold the members' values in lexicographic metric order (the
    * deterministic analog of the reference's index-answer order,
    * src/dql_resolver.erl:48-63); the fold is a pinned-order double fold,
    * so it is bit-identical across engines without decimal routing.
    */
  def groupUsing(op: String, g: RelationalGroupedDataset,
                 extra: Column*): DataFrame = op match {
    case "sum" | "avg" | "min" | "max" =>
      g.agg(pooled(op, col("value")).as("value"), extra: _*)
    case _ =>
      val step = op match {
        case "diff"     => "acc - x"
        case "product"  => "acc * x"
        case "quotient" => "CASE WHEN x = CAST(0 AS DOUBLE) THEN acc ELSE acc / x END"
      }
      g.agg(expr("array_sort(collect_list(struct(metric, value)))").as("arr"),
          extra: _*)
        .withColumn("vals", expr("transform(arr, x -> x.value)"))
        .withColumn("value", expr(
          s"aggregate(slice(vals, 2, greatest(size(vals) - 1, 0)), " +
            s"element_at(vals, 1), (acc, x) -> $step)"))
        .drop("arr", "vals")
  }

  /** input: (metric, ts, value)-shaped frame; output: (ts, value). */
  def combine(df: DataFrame, metrics: Seq[String], op: String,
              tsCol: String = "ts_ms"): DataFrame = {
    val f = df.where(col("metric").isin(metrics: _*))
    op match {
      case "diff" | "product" | "quotient" =>
        val pivots = metrics.zipWithIndex.map { case (m, i) =>
          max(when(col("metric") === m, col("value"))).as(s"c$i")
        }
        val piv = f.groupBy(tsCol).agg(pivots.head, pivots.tail: _*)
        piv.select(col(tsCol),
          fold(op, metrics.indices.map(i => col(s"c$i"))).as("value"))
      case _ => f.groupBy(tsCol).agg(pooled(op, col("value")).as("value"))
    }
  }

  /** DuckDB mirror over a relation with (metric, ts, value). */
  def sql(rel: String, metrics: Seq[String], op: String,
          tsCol: String = "ts_ms"): String = {
    val inList = metrics.map(m => s"'$m'").mkString(", ")
    op match {
      case "sum" | "avg" | "min" | "max" =>
        val agg = op match {
          case "sum" => Exact.dsumSql("value")
          case "avg" => Exact.davgSql("value")
          case "min" => "MIN(value)"
          case "max" => "MAX(value)"
        }
        s"""SELECT $tsCol, $agg AS value FROM $rel
           |WHERE metric IN ($inList) GROUP BY $tsCol""".stripMargin
      case "diff" | "product" | "quotient" =>
        val pivots = metrics.zipWithIndex.map { case (m, i) =>
          s"MAX(CASE WHEN metric = '$m' THEN value END) AS c$i"
        }.mkString(", ")
        val rest = metrics.indices.tail
        val folded = op match {
          case "diff"    => rest.foldLeft("c0")((a, i) => s"($a - c$i)")
          case "product" => rest.foldLeft("c0")((a, i) => s"($a * c$i)")
          case "quotient" =>
            rest.foldLeft("c0")((a, i) => s"(CASE WHEN c$i = 0 THEN $a ELSE $a / c$i END)")
        }
        s"""SELECT $tsCol, $folded AS value FROM (
           |  SELECT $tsCol, $pivots FROM $rel
           |  WHERE metric IN ($inList) GROUP BY $tsCol)""".stripMargin
    }
  }
}
