package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Proves the Lloyd trainer does what training exists for: on a CLUSTERED
  * corpus whose first-nCells seed centroids are deliberately displaced
  * off the true cluster directions, `iters` Lloyd rounds must recover the
  * cluster structure and lift recall@k at nProbe=1 above the raw seed.
  *
  * Why a synthetic clustered corpus: the driver's embeddings are
  * near-uniform directions — no cluster structure exists for ANY trainer
  * to find, and measured recall there is flat across iters 1–6 at
  * 0.47–0.50 vs the 0.510 seed (NOTES_r10, identical E[scanned]
  * cell balance). Asserting a climb on that corpus would pin noise. This
  * corpus has 4 well-separated cluster directions, and the seed is bad
  * in the way that actually kills recall at nProbe=1: two seeds land
  * inside ONE cluster's noise cone (splitting that cluster across two
  * cells — a query in one half cannot see neighbors in the other) while
  * another cluster has no seed at all. Lloyd's update moves the
  * redundant centroid onto the orphaned cluster's mean, un-splitting
  * the corpus; recall must climb accordingly.
  * Everything is deterministic: noise comes from an LCG on (vec_id, dim).
  */
class TrainedIvfSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val Dim = 8
  private val NCells = 4
  private val N = 124
  private val K = 5

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** deterministic uniform-ish noise in [-0.5, 0.5) */
  private def h(i: Int, d: Int): Double = {
    val x = (i * 1103515245L + d * 12345L + 6789L) & 0x7fffffffL
    (x % 1000) / 1000.0 - 0.5
  }

  /** cluster directions e0, e2, e4, e6; members get ±0.35 per-dim noise */
  private def corpus: DataFrame = {
    val s = spark
    import s.implicits._
    val rows = (0 until N).map { i =>
      val v = new Array[Float](Dim)
      if (i < NCells) {
        // SEED vectors (vec_id < nCells become the untrained centroids):
        // TWO seeds inside cluster 0's noise cone — one pure, one tilted
        // 0.3 toward cluster 3 — and NO seed near cluster 3. The raw
        // seed therefore SPLITS cluster 0 across two cells (the recall
        // killer at nProbe=1) and dumps cluster 3 into the tilted cell;
        // Lloyd must discover that the tilted centroid's mass lies at
        // e6 and migrate it there, un-splitting cluster 0.
        i match {
          case 0 => v(0) = 1.0f; v(4) = 0.15f
          case 1 => v(0) = 1.0f; v(6) = 0.15f
          case 2 => v(2) = 1.0f
          case 3 => v(4) = 1.0f
        }
      } else {
        val c = i % NCells
        var d = 0
        while (d < Dim) {
          v(d) = ((if (d == 2 * c) 1.0 else 0.0) + 0.7 * h(i, d)).toFloat
          d += 1
        }
      }
      (i.toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def neighbors(df: DataFrame): Map[Long, Set[Long]] =
    df.select(col("query_id"), col("vec_id")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet
      }

  test("Lloyd training recovers cluster structure the displaced seed loses") {
    val emb = corpus.persist()
    val queries = emb.where(col("vec_id") >= NCells && col("vec_id") < 24)
    val exact = neighbors(Similarity.bruteTopK(emb, queries, K))
    def recall(approx: DataFrame): Double = {
      val got = neighbors(approx)
      val per = exact.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }
      per.sum / per.size
    }
    val seed = recall(
      Similarity.ivfTopK(emb, queries, NCells, Dim, K))
    val trained = recall(
      Similarity.ivfTrainedTopK(emb, queries, NCells, Dim, K, iters = 2))
    val trained4 = recall(
      Similarity.ivfTrainedTopK(emb, queries, NCells, Dim, K, iters = 4))
    info(f"split-seed recall@$K = $seed%.3f, trained(iters=2) = $trained%.3f, " +
      f"trained(iters=4) = $trained4%.3f")
    // two near-identical centroids separate slowly: measured 0.950 seed,
    // 0.960 at iters=2, 1.000 (full recovery) at iters=4 — deterministic
    // corpus, floors pinned just below as regression guards
    assert(trained >= seed,
      f"iters=2 must not lose to the seed: $trained%.3f vs $seed%.3f")
    assert(trained4 >= seed + 0.04,
      f"training must lift recall on clustered data: $trained4%.3f vs seed $seed%.3f")
    assert(trained4 >= 0.98,
      f"trained recall $trained4%.3f below the clustered-corpus floor")
    emb.unpersist()
  }

  test("empty centroid table yields an empty assignment, not a -1 label") {
    val emb = corpus
    val noCents = emb.where(lit(false))
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"),
        VectorOps.norm(col("embedding")).as("cnrm"))
    assert(Similarity.ivfAssign(emb, noCents).isEmpty,
      "degenerate empty-centroid input must produce an empty frame")
  }
}
