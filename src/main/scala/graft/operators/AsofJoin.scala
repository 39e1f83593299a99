package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for every left row, attach the right side's value at the
  * greatest right timestamp ≤ the left timestamp, per key (the standard
  * time-series enrichment join — the reference has no join surface at all,
  * SURVEY §2.10; this is a capability extension for the pipeline tier).
  *
  * Spark-first shape: NOT an inequality join (a theta join degenerates to
  * a broadcast-nested-loop — O(|L|·|R|) work at 100 TB). Instead the two
  * sides are unioned with a side marker and swept with one window sort:
  *
  *   union → Window.partitionBy(key).orderBy(ts, side) →
  *   last(right_value, ignoreNulls) over rowsBetween(-∞, 0) → keep left
  *
  * One shuffle on the key (the same partitioning both inputs would already
  * have in a series layout), sort-merge within partitions, linear work.
  * Right rows sort BEFORE left rows at equal ts (side 0 < 1), giving the
  * inclusive `≤` match that ASOF JOIN semantics require.
  *
  * The right side must be unique per (key, ts) — pre-aggregate upstream if
  * not (ties at the same ts are otherwise nondeterministic in any engine).
  */
object AsofJoin {

  /** @param left      rows to enrich (all columns preserved)
    * @param right     lookup side: key ++ ts ++ valueCol
    * @param key       equi-join key columns (present on both sides)
    * @param ts        ordering column name (present on both sides)
    * @param valueCol  right-side column to fetch as-of
    * @param as        output column name for the fetched value
    */
  def asof(left: DataFrame, right: DataFrame, key: Seq[String], ts: String,
           valueCol: String, as: String): DataFrame = {
    val leftCols = left.columns.toSeq
    sweep(left, right, key, ts, valueCol, as)
      .select(leftCols.map(col) :+ col(as): _*)
  }

  /** [[asof]] with a staleness bound: a match older than `toleranceMs`
    * (i.e. `left.ts − right.ts > toleranceMs`) is discarded — the fetched
    * value comes back NULL, exactly as if no right row preceded the left
    * one. The tolerance is applied AFTER the sweep (same single-shuffle
    * plan; the window additionally carries the matched timestamp), so the
    * cost is identical to the unbounded form.
    */
  def asofTolerance(left: DataFrame, right: DataFrame, key: Seq[String],
                    ts: String, valueCol: String, as: String,
                    toleranceMs: Long): DataFrame = {
    require(toleranceMs >= 0, s"toleranceMs must be >= 0, got $toleranceMs")
    val leftCols = left.columns.toSeq
    sweep(left, right, key, ts, valueCol, as)
      .withColumn(as,
        when(col(ts) - col("__rts") <= toleranceMs, col(as)))
      .select(leftCols.map(col) :+ col(as): _*)
  }

  /** FORWARD as-of: for every left row, the right side's value at the
    * SMALLEST right timestamp ≥ the left timestamp, per key — the "next
    * observation" join (lead enrichment). Same union+one-window-sweep
    * shape as [[asof]], mirrored: left rows sort BEFORE right rows at
    * equal ts and the frame looks forward, giving the inclusive `≥`.
    */
  def asofForward(left: DataFrame, right: DataFrame, key: Seq[String],
                  ts: String, valueCol: String, as: String): DataFrame = {
    val vType = right.schema(valueCol).dataType
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__side", lit(0))
      .withColumn("__rv", lit(null).cast(vType))
    val rBase = right.select((key :+ ts).map(col) :+ col(valueCol).as("__rv"): _*)
      .withColumn("__side", lit(1))
    val r = leftCols.foldLeft(rBase) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }.select(l.columns.map(col): _*)
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col(ts).asc, col("__side").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    l.unionByName(r)
      .withColumn(as, first(col("__rv"), ignoreNulls = true).over(w))
      .where(col("__side") === 0)
      .select(leftCols.map(col) :+ col(as): _*)
  }

  /** Shared union+window sweep: returns the left rows extended with the
    * as-of value (`as`) and the timestamp it was observed at (`__rts`).
    */
  private def sweep(left: DataFrame, right: DataFrame, key: Seq[String],
                    ts: String, valueCol: String, as: String): DataFrame = {
    val vType = right.schema(valueCol).dataType
    val tsType = right.schema(ts).dataType
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(vType))
      .withColumn("__rt", lit(null).cast(tsType))
    // right rows carry only key+ts+value; left-only columns become nulls
    val rBase = right.select((key :+ ts).map(col) :+ col(valueCol).as("__rv"): _*)
      .withColumn("__side", lit(0))
      .withColumn("__rt", col(ts))
    val r = leftCols.foldLeft(rBase) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }.select(l.columns.map(col): _*)
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col(ts).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn(as, last(col("__rv"), ignoreNulls = true).over(w))
      .withColumn("__rts", last(col("__rt"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
  }
}
