package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Residual IVF-PQ (IVFADC) invariants — the properties the DuckDB
  * hash-gates can't see:
  *
  *  1. WHY residual coding exists: on a corpus with cluster structure,
  *     quantizing `v − centroid(cell)` spends the codebook's entries on
  *     the tight residual distribution instead of the spread of cluster
  *     directions, so the PQ shortlist tracks the exact in-cell ranking
  *     strictly better than raw-vector coding at identical (m, ksub).
  *     The driver corpus is near-uniform (no structure to exploit —
  *     NOTES_r10), so this is proven on the same clustered
  *     deterministic corpus TrainedIvfSpec uses for the Lloyd trainer.
  *  2. code-domain bounds on the real corpus,
  *  3. rerank ≥ cell size reproduces the exact IVF search bit-for-bit
  *     (the PQ stage can reorder, never exclude),
  *  4. plan shape: no unblocked Cartesian, broadcast-only index joins.
  */
class ResidualPqSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  // ---- clustered corpus (TrainedIvfSpec's generator, GOOD seeds) ----
  private val CDim = 8
  private val NCells = 4
  private val N = 124

  /** deterministic uniform-ish noise in [-0.5, 0.5) */
  private def h(i: Int, d: Int): Double = {
    val x = (i * 1103515245L + d * 12345L + 6789L) & 0x7fffffffL
    (x % 1000) / 1000.0 - 0.5
  }

  /** 4 cluster directions e0, e2, e4, e6; seeds sit exactly ON them (the
    * IVF assignment is correct by construction — the variable under test
    * is the PQ CODING quality, not cell recall).
    */
  private def clustered: DataFrame = {
    val s = spark
    import s.implicits._
    val rows = (0 until N).map { i =>
      val v = new Array[Float](CDim)
      if (i < NCells) v(2 * i) = 1.0f
      else {
        val c = i % NCells
        var d = 0
        while (d < CDim) {
          v(d) = ((if (d == 2 * c) 1.0 else 0.0) + 0.7 * h(i, d)).toFloat
          d += 1
        }
      }
      (i.toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("residual coding beats raw-PQ shortlist quality on clustered data") {
    val emb = clustered.persist()
    val queries = emb.where(col("vec_id") >= NCells && col("vec_id") < 64)
    // m=2 (4-dim subspaces): the regime where residual centering matters
    // most — each coarse subspace must otherwise spend its entries on the
    // spread of cluster DIRECTIONS instead of the within-cell ranking.
    // NOTES_r11 grid (this corpus, noise 0.2–0.7, 60 queries):
    // m=2/ksub=16 raw 0.72 → residual 0.88–0.89 at every noise level;
    // m=2/ksub=8 raw 0.43 → residual 0.61; the one regime where raw
    // edges ahead (m=4/ksub=8, +0.02) is where 8 entries over 2-dim
    // subspaces already saturate. Floors pinned under the measured
    // values as regression guards.
    val k = 5; val m = 2; val ksub = 16
    // exact ranking inside the same single probed cell — identical cell
    // walk for all three searches, so overlap differences isolate coding
    val exact = pairs(Similarity.ivfTopK(emb, queries, NCells, CDim, k))
    def overlap(df: DataFrame): Double = {
      val got = pairs(df)
      got.intersect(exact).size.toDouble / exact.size
    }
    val raw = overlap(Similarity.ivfPqTopK(emb, queries, NCells, m, ksub,
      CDim, k))
    val res = overlap(Similarity.ivfPqResidualTopKProbed(emb, queries,
      NCells, m, ksub, CDim, k, nProbe = 1))
    info(f"shortlist overlap vs exact-in-cell@$k: raw=$raw%.3f residual=$res%.3f")
    assert(res >= raw + 0.1,
      f"residual coding must track the exact ranking decisively better " +
        f"at coarse m: $res%.3f vs $raw%.3f")
    assert(res >= 0.85, f"residual overlap $res%.3f below the measured floor")
    emb.unpersist()
  }

  // ------------------------- real-corpus invariants -------------------
  private val Dim = 64
  private def emb: DataFrame =
    graft.core.Tables(spark, "/root/testdata/sf0.01", "embeddings")

  test("residual codes are m integers inside the codebook domain") {
    val cells = Similarity.ivfCells(emb, 8)
    val scb = Similarity.residualScb(emb, cells, 8, 8, 16, Dim)
    val bad = Similarity.pqResidualEncode(cells, scb, 8, Dim)
      .where(size(col("codes")) =!= 8 ||
        exists(col("codes"), c => c < 0 || c >= 16))
      .count()
    assert(bad === 0)
  }

  test("rerank >= cell size reproduces the exact IVF search bit-for-bit") {
    val q = emb.where(col("vec_id").isin(10L, 11L, 12L))
    def rows(df: DataFrame) = df
      .select("query_id", "vec_id", "cos", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val exact = rows(Similarity.ivfTopK(emb, q, nCells = 8, dim = Dim, k = 5))
    val res = rows(Similarity.ivfPqResidualRerankTopKProbed(emb, q,
      nCells = 8, m = 8, ksub = 16, dim = Dim, k = 5, rerank = 500,
      nProbe = 1))
    assert(res === exact)
  }

  test("plan: no unblocked Cartesian, broadcast-only index joins") {
    val q = emb.where(col("vec_id").isin(10L, 11L, 12L))
    val plan = Similarity.ivfPqResidualTopKProbed(emb, q, nCells = 8,
      m = 8, ksub = 16, dim = Dim, k = 5, nProbe = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "residual PQ search planned an unblocked Cartesian product")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "expected broadcast joins for per-cell codebooks/probes")
    assert(!plan.contains("SortMergeJoin"),
      "the encoded index must not shuffle for a broadcastable join")
  }
}
