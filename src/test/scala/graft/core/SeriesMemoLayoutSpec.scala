package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.dql.{Compiler, SeriesStore, TestdataStore}

/** The series memo's layout: hash(metric) into defaultParallelism
  * partitions, sorted (metric, ts_ms) within each. The cached scan reports
  * that layout to the planner, so per-series DQL over the memo runs without
  * a shuffle, and a `derivate` window without a sort, and returns the rows
  * it returns over a memo that has lost the layout.
  */
class SeriesMemoLayoutSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {
  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.01"
  private val nowMs = 1706745600000L
  private val range = "BETWEEN 1704412800000 AND 1704672000000"
  private val get = "'purchase'.'146' BUCKET 'testdata'"
  private val queries = Seq(
    "get" -> s"SELECT avg($get, 1 h) $range",
    "glob" -> s"SELECT avg('purchase'.* BUCKET 'testdata', 1 d) $range",
    "derivate" -> s"SELECT derivate($get) $range",
    "multi" -> s"SELECT avg($get, 1 d), max($get, 1 d) $range")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The testdata store over the memo squeezed into one partition: the
    * same rows, but the metric layout is gone, so the plans above it
    * shuffle again.
    */
  private final class OnePartitionStore extends SeriesStore {
    private val base = new TestdataStore(dir)
    override def corpusKey: String = s"$dir#one-partition"
    def resolutionMs(bucket: String): Long = base.resolutionMs(bucket)
    def series(spark: SparkSession, bucket: String): DataFrame =
      SeriesOps.series(spark, dir).repartition(1)
    def tagCol(ns: String, key: String): Option[String] = base.tagCol(ns, key)
    def tagCols: Seq[String] = base.tagCols
    def events(spark: SparkSession, bucket: String): DataFrame =
      base.events(spark, bucket)
  }

  /** The rows, in a canonical order, and the AQE final plan. */
  private def run(store: SeriesStore, dql: String): (Seq[String], SparkPlan) = {
    val df = Compiler.run(spark, store, nowMs, dql)
    val rows = df.collect().map(_.toString).toSeq.sorted
    (rows, df.queryExecution.executedPlan)
  }

  private def exchanges(p: SparkPlan) =
    collect(p) { case e: ShuffleExchangeExec => e }
  private def sorts(p: SparkPlan) = collect(p) { case s: SortExec => s }

  test("the memo is hash(metric) in defaultParallelism partitions, " +
      "sorted by (metric, ts_ms)") {
    val memo = SeriesOps.series(spark, dir)
    val n = spark.sparkContext.defaultParallelism
    assert(memo.rdd.getNumPartitions == n)
    val scan = collectFirst(memo.queryExecution.executedPlan) {
      case s: InMemoryTableScanExec => s
    }.getOrElse(fail("the memo is not a cached scan"))
    scan.outputPartitioning match {
      case HashPartitioning(Seq(a: AttributeReference), k) =>
        assert(a.name == "metric" && k == n)
      case other => fail(s"memo partitioning is $other")
    }
    assert(scan.outputOrdering.map(_.child).collect {
      case a: AttributeReference => a.name
    } == Seq("metric", "ts_ms"))
    val unsorted = memo.select("metric", "ts_ms").rdd.mapPartitions { it =>
      val keys = it.map(r => (r.getString(0), r.getLong(1))).toSeq
      Iterator(keys.zip(keys.drop(1)).count { case (a, b) =>
        Ordering[(String, Long)].gt(a, b) })
    }.sum()
    assert(unsorted == 0)
  }

  test("per-series DQL over the memo plans no shuffle, derivate no sort") {
    val store = new TestdataStore(dir)
    queries.foreach { case (name, q) =>
      val (rows, plan) = run(store, q)
      assert(rows.nonEmpty, s"$name returned no rows")
      assert(exchanges(plan).isEmpty, s"$name shuffles:\n$plan")
      if (name == "derivate") assert(sorts(plan).isEmpty, s"$name sorts:\n$plan")
    }
  }

  test("the rows match those over a memo without the layout") {
    val store = new TestdataStore(dir)
    val flat = new OnePartitionStore
    queries.foreach { case (name, q) =>
      val (rows, _) = run(store, q)
      val (want, flatPlan) = run(flat, q)
      assert(exchanges(flatPlan).nonEmpty, s"$name: the reference kept no exchange")
      assert(rows == want, name)
    }
  }
}
