package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range (interval-containment) join: match point rows `p` to interval
  * rows `[lo, hi]` with `lo ≤ p.ts ≤ hi` (+ optional equi-keys). A
  * capability extension (the reference has no join surface, SURVEY §2.10)
  * for the "what happened during this window" shape.
  *
  * Spark-first shape: a raw `lo <= ts AND ts <= hi` join plans as a
  * broadcast-nested-loop / cartesian — O(|P|·|I|) comparisons. Instead
  * both sides are bucketed into fixed time chunks: every interval explodes
  * to the chunks it overlaps (`sequence(lo div c, hi div c)`), points map
  * to their single chunk, and the join becomes an EQUI-join on
  * (key, chunk) with a residual range filter. Work is
  * O(|P| + Σ interval_len/c + matches) — shuffle-partitionable on the
  * chunk key, skew-safe under AQE, linear at 100 TB. Pick `chunkMs` near
  * the median interval length (each interval explodes to ~2 rows).
  */
object RangeJoin {

  /** @param points     rows with a `ts` column (all columns preserved)
    * @param intervals  rows with `lo`/`hi` columns (all columns preserved;
    *                   column names must not collide with `points`)
    * @param keys       optional equi-key column names present on BOTH sides
    * @param ts         point timestamp column (epoch ms)
    * @param lo, hi     interval bound columns (epoch ms, inclusive)
    * @param chunkMs    bucketing granule
    */
  def join(points: DataFrame, intervals: DataFrame, keys: Seq[String],
           ts: String, lo: String, hi: String, chunkMs: Long): DataFrame = {
    val p = points.withColumn("__chunk", (col(ts) / chunkMs).cast("long"))
    val i = intervals.withColumn("__chunk",
      explode(sequence((col(lo) / chunkMs).cast("long"),
        (col(hi) / chunkMs).cast("long"))))
    p.join(i, keys :+ "__chunk")
      .where(col(ts) >= col(lo) && col(ts) <= col(hi))
      .drop("__chunk")
  }
}
