package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed training-data curation pipeline (builder brief capstone):
  * near-dup detection → canonicalization → quality scoring → per-document
  * keep/drop decision. Each stage is one of the already-verified operators;
  * this is the end-to-end shape a 100 TB corpus job runs — all joins are on
  * doc_id (co-partitionable), the dup set is tiny relative to the corpus
  * (broadcast), and no stage collects to the driver.
  */
object Corpus {

  /** decision per document: 'dup' (non-canonical member of a near-dup
    * component — dedup wins over quality), 'low_quality', or 'kept'.
    */
  def decisions(docs: DataFrame, jaccardThreshold: Double,
                qualityThreshold: Double): DataFrame =
    decisions(docs, Dedup.minhashPairs(docs, jaccardThreshold),
      qualityThreshold)

  /** variant over precomputed near-dup pairs (the production shape: the
    * pair set is a materialized artifact shared by every downstream
    * consumer, not recomputed per query)
    */
  def decisions(docs: DataFrame, pairs: DataFrame,
                qualityThreshold: Double): DataFrame = {
    val canon = Dedup.canonicalize(pairs)
    val dups = canon.where(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id"), lit(true).as("is_dup"))
    // widen the quality scan (r21): a narrow corpus layout (one split)
    // ran the per-doc quality expressions single-threaded — the
    // text_quality gate widens its own input, this composed consumer
    // did not (measured: a 1-task 0.35 s stage inside the gate). KEYED
    // on the unique doc id (r20 events-widen rule: round-robin pays the
    // determinism sort of the text payload); no-op on realistic
    // multi-split layouts, like every widen
    val quality = TextOps.quality(
        graft.core.Parallel.widenBy(docs, col("doc_id")))
      .select("doc_id", "quality")
    docs.select("doc_id")
      .join(broadcast(dups), Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"))
      .select(col("doc_id"),
        when(col("is_dup"), "dup")
          .when(col("quality") < qualityThreshold, "low_quality")
          .otherwise("kept").as("decision"))
  }

  def decisionsSql(jaccardThreshold: Double,
                   qualityThreshold: Double): String = {
    s"""WITH canon AS (
       |  SELECT * FROM (${Dedup.canonicalizeSql(Dedup.minhashPairsSql(jaccardThreshold))})),
       |dups AS (SELECT doc_id FROM canon WHERE doc_id <> canonical_id),
       |q AS (
       |  ${TextOps.qualityScoreSubquerySql})
       |SELECT d.doc_id,
       |  CASE WHEN dup.doc_id IS NOT NULL THEN 'dup'
       |       WHEN q.quality < $qualityThreshold THEN 'low_quality'
       |       ELSE 'kept' END AS decision
       |FROM documents d
       |LEFT JOIN dups dup ON dup.doc_id = d.doc_id
       |JOIN q ON q.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Oracle for the STREAMING capstone
    * ([[graft.streaming.DocStream.decisions]]): dup = not the first
    * arrival of the text hash in (ts, doc_id) order — the gate replay
    * synthesizes ts from doc_id, so arrival order IS doc_id order — and
    * quality judges only the first copy. Same quality formula and
    * precedence as [[decisionsSql]].
    */
  def streamDecisionsSql(qualityThreshold: Double): String = {
    s"""WITH arrival AS (
       |  SELECT doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY md5(text)
       |           ORDER BY doc_id) AS rn
       |  FROM documents),
       |q AS (
       |  ${TextOps.qualityScoreSubquerySql})
       |SELECT d.doc_id,
       |  CASE WHEN a.rn > 1 THEN 'dup'
       |       WHEN q.quality < $qualityThreshold THEN 'low_quality'
       |       ELSE 'kept' END AS decision
       |FROM documents d
       |JOIN arrival a ON a.doc_id = d.doc_id
       |JOIN q ON q.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }
}
