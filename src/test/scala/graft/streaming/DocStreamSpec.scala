package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.sql.Timestamp

/** Streaming document pipeline: bounded-state exact dedup and the batch
  * quality operator running unchanged on the stream.
  */
class DocStreamSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  final case class Doc(ts: Timestamp, doc_id: Long, text: String)
  private def doc(sec: Long, id: Long, text: String) =
    Doc(new Timestamp(sec * 1000), id, text)

  test("streaming exact dedup keeps first occurrence, within watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[Doc]
    val out = DocStream.dedupExact(in.toDF(), "1 minute")
    val q = out.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    // duplicates arrive in LATER batches: the first occurrence is already
    // committed state, so the drop is deterministic (within one batch the
    // kept row among equal hashes is arbitrary — engine contract)
    in.addData(doc(1000, 1, "the quick brown fox"), doc(1001, 2, "a lazy dog"))
    q.processAllAvailable()
    in.addData(doc(1002, 3, "the quick brown fox"), doc(1003, 4, "a lazy dog"))
    q.processAllAvailable()
    val ids = spark.sql("SELECT doc_id FROM sdedup ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    q.stop()
    assert(ids == Seq(1L, 2L))
  }

  test("stream near-dup vs static index flags exactly the batch pair set") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // corpus: two unrelated docs; probes: a near-dup of doc 10 (differs in
    // the last word → 5 of 7 distinct shingles shared, J = 5/7) and an
    // unrelated doc. All md5-deterministic: the band collision for the
    // near-dup and the non-collision for the unrelated probe are fixed
    // properties of these strings.
    val tA = "alpha beta gamma delta epsilon zeta eta theta"
    val tA2 = "alpha beta gamma delta epsilon zeta eta lambda"
    val tB = "one two three four five six seven eight"
    val tC = "purple monkey dishwasher runs fast tonight again forever"
    val corpus = Seq((10L, tA), (11L, tB)).toDF("doc_id", "text")
    val index = graft.pipeline.Dedup.bandIndex(corpus)
    val in = MemoryStream[Doc]
    val out = DocStream.nearDupAgainstIndex(in.toDF(), index, 0.5, "1 minute")
    val q = out.writeStream.format("memory").queryName("sneardup")
      .outputMode("append").start()
    in.addData(doc(1000, 20, tA2), doc(1001, 21, tC))
    q.processAllAvailable()
    val st = spark.sql(
      "SELECT doc_id, match_id, jaccard FROM sneardup").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    q.stop()
    // the batch pair set over corpus ∪ probes, restricted to cross
    // (probe, corpus) pairs — the only pairs the stream-static join sees
    val all = Seq((10L, tA), (11L, tB), (20L, tA2), (21L, tC))
      .toDF("doc_id", "text")
    val b = graft.pipeline.Dedup.minhashPairs(all, 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, bb, _) => (a < 20) != (bb < 20) }
      .toSet
    assert(st == b, s"stream=$st batch=$b")
    assert(st.nonEmpty, "fixture no longer produces a band collision — " +
      "the equivalence would be vacuous")
    assert(st.map(p => (p._1, p._2)) == Set((10L, 20L)))
  }

  test("streaming decontamination matches the batch operator, stateless") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val eval = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    // doc 1 shares 4 distinct shingles with the eval text, doc 2 shares
    // none, doc 3 shares exactly 2 (below the minOverlap=3 bar)
    val d1 = "a quick brown fox jumps over me" // shares 4 of its shingles
    val d2 = "entirely different words here now"
    val d3 = "the quick brown fox sleeps soundly today"
    val in = MemoryStream[Doc]
    val out = DocStream.decontaminate(in.toDF(), eval, 3)
    val q = out.writeStream.format("memory").queryName("sdecon")
      .outputMode("append").start()
    in.addData(doc(1000, 1, d1), doc(1001, 2, d2), doc(1002, 3, d3))
    q.processAllAvailable()
    val st = spark.sql("SELECT doc_id, n_overlap FROM sdecon")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    // no state store anywhere: the operator is a narrow projection
    assert(q.lastProgress.stateOperators.isEmpty)
    val b = graft.pipeline.Curation.decontaminate(
      Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text"), eval, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(st == b, s"stream=$st batch=$b")
    assert(st.map(_._1) == Set(1L))
  }

  test("quota admission: counter state carries across batches, closes at" +
    " quota, frontier drops replays") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    val out = DocStream.quotaAdmit(
      in.toDF().toDF("source", "doc_id"), "source", quota = 3)
    val q = out.writeStream.format("memory").queryName("squota")
      .outputMode("append").start()
    in.addData(("a", 5L), ("a", 2L), ("b", 1L))   // in-batch doc_id order
    q.processAllAvailable()
    in.addData(("a", 9L), ("a", 11L),             // 9 fills quota; 11 over
      ("a", 3L),                                  // behind frontier (5): drop
      ("b", 4L))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT source, doc_id, rank FROM squota ORDER BY source, rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    q.stop()
    assert(rows.toSeq == Seq(
      ("a", 2L, 1L), ("a", 5L, 2L), ("a", 9L, 3L),
      ("b", 1L, 1L), ("b", 4L, 2L)))
  }
}
