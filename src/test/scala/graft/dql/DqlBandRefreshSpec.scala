package graft.dql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.pipeline.{Dedup, Similarity}

/** Refresh policy for the OTHER shared index artifacts (r17 review:
  * [[DqlArtifacts.ivfRefresh]] closed r16 verdict #6 for the IVF index;
  * the band index and the LSH artifact still evicted wholesale):
  *
  *   - [[DqlArtifacts.bandRefresh]] — a delta of NEW doc ids appends
  *     (delta-only signatures, base never re-shingled) and equals the
  *     full rebuild bit-for-bit (band rows are per-doc functions, keys
  *     disjoint under append); any id overlap rebuilds.
  *   - [[DqlArtifacts.lshRefresh]] — row-local bucketing, so append ≡
  *     rebuild for new ids; overlap rebuilds.
  *   - [[DqlArtifacts.gramRefresh]] / [[DqlArtifacts.gramCanonRefresh]] —
  *     counts merge under append; overlap rebuilds.
  *
  * All memoize per deltaId with the one refresh policy's content
  * contract. The
  * gate `dql_pipeline_neardup_refresh` pins the band append path
  * against the full-corpus pair oracle at the fixture.
  */
class DqlBandRefreshSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def vecsDf(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  /** store serving one named corpus table (documents or embeddings) */
  private final class TableStore(key: String, tname: String,
                                 df: DataFrame) extends SeriesStore {
    override def corpusKey: String = key
    def resolutionMs(bucket: String): Long = 1000L
    def series(s: SparkSession, bucket: String): DataFrame =
      throw new UnsupportedOperationException
    def tagCol(ns: String, k: String): Option[String] = None
    val tagCols: Seq[String] = Seq.empty
    def events(s: SparkSession, bucket: String): DataFrame =
      throw new UnsupportedOperationException
    override def table(s: SparkSession, name: String): DataFrame = {
      require(name == tname, name); df
    }
  }

  private val rnd = new scala.util.Random(7)
  private val vocab = ('a' to 'j').map(_.toString)
  private def text(): String =
    (0 until (8 + rnd.nextInt(6)))
      .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")

  private def indexRows(df: DataFrame): Set[(Long, Int, String)] =
    df.select("doc_id", "band_idx", "bh").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet

  private def pairRows(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("band refresh: new-id delta appends and equals the full rebuild " +
    "(index rows AND the pairs read off it); memoized per deltaId") {
    val base = (0L until 30L).map(id => id -> text())
    // clone some base docs into the delta so the refreshed index
    // actually produces cross-batch pairs
    val delta = (30L until 40L).map(id =>
      id -> (if (id % 2 == 0) base((id % 30).toInt)._2 else text()))
    val store = new TableStore("band-refresh-append", "documents",
      docsDf(base))
    val refreshed = DqlArtifacts.bandRefresh(
      spark, store, "d1", docsDf(delta))
    val rebuilt = Dedup.bandIndex(docsDf(base ++ delta))
    assert(indexRows(refreshed) === indexRows(rebuilt))
    val got = pairRows(Dedup.minhashPairsFromIndex(refreshed, 0.5))
    val want = pairRows(Dedup.minhashPairsFromIndex(rebuilt, 0.5))
    assert(got === want)
    assert(got.exists { case (a, b, _) => a < 30L && b >= 30L },
      "no cross-batch pair — vacuous append fixture")
    // memoized: the same refresh batch returns the same artifact
    val again = DqlArtifacts.bandRefresh(spark, store, "d1", docsDf(delta))
    assert(again eq refreshed)
  }

  test("band refresh: overlapping delta forces the rebuild — updated " +
    "text re-signed, stale rows gone") {
    val base = (0L until 30L).map(id => id -> text())
    val updated = Seq(10L -> text(), 40L -> text())
    val store = new TableStore("band-refresh-overlap", "documents",
      docsDf(base))
    val refreshed = DqlArtifacts.bandRefresh(
      spark, store, "d2", docsDf(updated))
    val expected = Dedup.bandIndex(
      docsDf(base.filterNot(_._1 == 10L) ++ updated))
    assert(indexRows(refreshed) === indexRows(expected))
  }

  test("band refresh: empty deltaId is a typed error (content contract)") {
    val docs = new TableStore("band-refresh-empty", "documents",
      docsDf(Seq(0L -> text())))
    val vecs = new TableStore("band-refresh-empty-vecs", "embeddings",
      vecsDf(Seq(0L -> Seq.fill(4)(0.5f))))
    // the one refresh policy's deltaId check serves all five artifacts
    val refreshes: Seq[(String, () => Any)] = Seq(
      "bandRefresh" -> (() =>
        DqlArtifacts.bandRefresh(spark, docs, "", docsDf(Seq()))),
      "gramRefresh" -> (() =>
        DqlArtifacts.gramRefresh(spark, docs, "", docsDf(Seq()), n = 3)),
      "gramCanonRefresh" -> (() =>
        DqlArtifacts.gramCanonRefresh(spark, docs, "", docsDf(Seq()), n = 3)),
      "ivfRefresh" -> (() => DqlArtifacts.ivfRefresh(spark, vecs, "",
        vecsDf(Seq()), nCellsOverride = 2)),
      "lshRefresh" -> (() => DqlArtifacts.lshRefresh(spark, vecs, "",
        vecsDf(Seq()), bitsOverride = 2)))
    refreshes.foreach { case (fn, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(s"$fn: deltaId must be non-empty"), fn)
    }
  }

  test("gram refresh: new-id delta merges into the counts artifact and " +
    "equals the full rebuild (hash set AND the span summary read off " +
    "it); overlap rebuilds; canon twin agrees; memoized per deltaId") {
    val boiler = "p q r s t u v w x y"  // 10 tokens → repeated 3-grams
    val base = (0L until 20L).map(id =>
      id -> (if (id % 4 == 0) boiler else text() + " " + text()))
    // half the delta repeats the boilerplate → cross-batch duplicated
    // grams that only the MERGED artifact can see
    val delta = (20L until 28L).map(id =>
      id -> (if (id % 2 == 0) boiler else text() + " " + text()))
    val store = new TableStore("gram-refresh-append", "documents",
      docsDf(base))
    val all = docsDf(base ++ delta)
    val refreshed = DqlArtifacts.gramRefresh(spark, store, "d1",
      docsDf(delta), n = 3)
    def hashes(df: DataFrame) =
      df.select("gh").collect().map(_.getString(0)).toSet
    assert(hashes(refreshed) === hashes(Dedup.dupGrams(all, 3)))
    val gotSpans = Dedup.substringSpansWith(all, refreshed, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val wantSpans = Dedup.substringSpans(all, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotSpans === wantSpans)
    assert(gotSpans.exists(_._1 >= 20L) && gotSpans.exists(_._1 < 20L),
      "no cross-batch duplicated span — vacuous append fixture")
    assert(DqlArtifacts.gramRefresh(spark, store, "d1", docsDf(delta),
      n = 3) eq refreshed)
    // canon twin: merged keys-min projection ≡ full keep-first rebuild
    val refreshedC = DqlArtifacts.gramCanonRefresh(spark, store, "d1",
      docsDf(delta), n = 3)
    def canonRows(df: DataFrame) =
      df.collect().map(r => (r.getString(0), r.getDecimal(1))).toSet
    assert(canonRows(refreshedC) ===
      canonRows(Dedup.dupGramsWithCanon(all, 3)))
    // overlap: doc 4's text updated → both refreshes rebuild
    val upd = Seq(4L -> (text() + " " + text()))
    val expectDocs = docsDf(base.filterNot(_._1 == 4L) ++ upd)
    assert(hashes(DqlArtifacts.gramRefresh(spark, store, "d2",
      docsDf(upd), n = 3)) === hashes(Dedup.dupGrams(expectDocs, 3)))
    assert(canonRows(DqlArtifacts.gramCanonRefresh(spark, store, "d2",
      docsDf(upd), n = 3)) ===
      canonRows(Dedup.dupGramsWithCanon(expectDocs, 3)))
  }

  test("refresh ≡ rebuild under GENERATOR-driven corpora and random " +
    "append/overlap splits (r20 verdict carry-over: the example fixtures " +
    "above pin one split each; this samples the split space — random " +
    "texts with empties/boilerplate, random base/delta boundary, random " +
    "overlap subset — for the band and gram refresh spellings)") {
    import org.scalacheck.{Gen => G}
    import org.scalacheck.rng.Seed
    val word: G[String] = G.frequency(
      4 -> G.oneOf(vocab),
      2 -> G.const("p q r s t u v w x y"), // boilerplate run → dup grams
      1 -> G.const(""))
    val doc: G[String] = G.choose(3, 14).flatMap(n =>
      G.listOfN(n, word).map(_.mkString(" ")))
    def sampleCorpus(n: Int, seed: Long): Seq[String] =
      (0 until n).flatMap(i => doc(G.Parameters.default, Seed(seed + i)))
    for (sample <- 0 until 3) {
      val n = 12 + sample * 6
      val texts = sampleCorpus(n, 9000L + sample * 100)
      val all = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // random boundary; a (possibly empty) random subset of base ids is
      // REWRITTEN in the delta (the overlap-forces-rebuild path), and new
      // ids append beyond the boundary
      val split = 2 + (sample * 7 + 5) % (n - 4)
      val base = all.take(split)
      val overlapIds = base.map(_._1).filter(id => (id + sample) % 5 == 0)
        .take(sample) // sample 0: pure append; 1..2: growing overlap
      val delta = overlapIds.map(id => id -> s"rewritten ${texts(id.toInt)}") ++
        all.drop(split)
      // refresh semantics: overlap rebuilds over (base − overlap) ∪ delta,
      // pure append merges — both must equal the full rebuild over the
      // effective corpus
      val effective = base.filterNot(d => overlapIds.contains(d._1)) ++ delta
      val store = new TableStore(s"refresh-prop-$sample", "documents",
        docsDf(base))
      val bandRef = DqlArtifacts.bandRefresh(
        spark, store, s"dp$sample", docsDf(delta))
      assert(indexRows(bandRef) === indexRows(Dedup.bandIndex(
        docsDf(effective))),
        s"band refresh != rebuild at sample=$sample split=$split " +
          s"overlap=${overlapIds.mkString(",")}")
      val gramRef = DqlArtifacts.gramRefresh(spark, store, s"dp$sample",
        docsDf(delta), n = 3)
      def hashes(df: DataFrame) =
        df.select("gh").collect().map(_.getString(0)).toSet
      assert(hashes(gramRef) === hashes(Dedup.dupGrams(docsDf(effective), 3)),
        s"gram refresh != rebuild at sample=$sample split=$split " +
          s"overlap=${overlapIds.mkString(",")}")
    }
  }

  private def lshRows(df: DataFrame): Set[(Long, Long)] =
    df.select("vec_id", "bkt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def v64(): Seq[Float] =
    Seq.fill(DqlArtifacts.Dim)(rnd.nextFloat() - 0.5f)

  test("lsh refresh: new-id delta appends (row-local bucketing ≡ " +
    "rebuild); overlap rebuilds; memoized per deltaId") {
    val base = (0L until 20L).map(id => id -> v64())
    val delta = (20L until 25L).map(id => id -> v64())
    val store = new TableStore("lsh-refresh-append", "embeddings",
      vecsDf(base))
    val refreshed = DqlArtifacts.lshRefresh(
      spark, store, "d1", vecsDf(delta), bitsOverride = 4)
    val rebuilt = Similarity.lshPrep(vecsDf(base ++ delta), 4,
      DqlArtifacts.Dim)
    assert(lshRows(refreshed) === lshRows(rebuilt))
    assert(DqlArtifacts.lshRefresh(spark, store, "d1", vecsDf(delta),
      bitsOverride = 4) eq refreshed)
    // overlap: vec 5 updated in place → rebuild over (base − 5) ∪ delta
    val updated = Seq(5L -> v64())
    val refreshed2 = DqlArtifacts.lshRefresh(
      spark, store, "d2", vecsDf(updated), bitsOverride = 4)
    val expected2 = Similarity.lshPrep(
      vecsDf(base.filterNot(_._1 == 5L) ++ updated), 4, DqlArtifacts.Dim)
    assert(lshRows(refreshed2) === lshRows(expected2))
    assert(refreshed2.where(org.apache.spark.sql.functions
      .col("vec_id") === 5L).count() === 1L)
  }
}
