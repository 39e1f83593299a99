package graft.core

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** The partitioned layout must actually prune: a 2-day range scan over a
  * 30-day table reads 2 partitions, visible in the scan's partition count
  * and the plan's PartitionFilters.
  */
class LayoutSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var path: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    path = Files.createTempDirectory("graft-layout").toString
    Layout.writeSeriesPartitioned(
      SeriesOps.series(spark, "/root/testdata/sf0.001"), path)
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("bucketed tables join without any shuffle") {
    val sqlf = org.apache.spark.sql.functions
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = graft.sources.BucketStore.bucketed(spark, dir, "lineitem",
        "l_orderkey", 8)
      val ord = graft.sources.BucketStore.bucketed(spark, dir, "orders",
        "o_orderkey", 8)
      val joined = spark.table(li)
        .join(spark.table(ord),
          sqlf.col("l_orderkey") === sqlf.col("o_orderkey"))
        .groupBy(sqlf.col("o_orderpriority"))
        .agg(sqlf.count(sqlf.lit(1)).as("n"))
      // the JOIN itself must be exchange-free: both sides pre-placed.
      // (the groupBy after it may still exchange — count only the
      // exchanges BELOW the join)
      val plan = joined.queryExecution.executedPlan.toString()
      val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(!joinPart.contains("Exchange"),
        "join inputs were shuffled despite bucketing:\n" + joinPart.take(1500))
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("date partitions exist and carry the in-file sort") {
    val dts = new java.io.File(path).list().count(_.startsWith("dt="))
    assert(dts >= 28, s"expected ~30 date partitions, found $dts")
  }

  test("a 2-day range scan prunes to 2 partitions") {
    val df = Layout.rangeScan(spark, path,
      1704412800000L, 1704585600000L) // 2024-01-05 .. 01-07
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    // the authoritative signal: the scan's selected partition count
    // (df.inputFiles is relation-level and lists ALL partitions — it does
    // not reflect pruning)
    val counts = df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(counts == Seq(2), s"expected 2 pruned partitions, got $counts")
    assert(df.count() > 0)
    // semantic check: the same rows as an unpartitioned range filter
    val expect = SeriesOps.series(spark, "/root/testdata/sf0.001")
      .where(org.apache.spark.sql.functions.col("ts_ms")
        .between(1704412800000L, 1704585600000L - 1)).count()
    assert(df.count() == expect)
  }
}
