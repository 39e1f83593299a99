package graft.core

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, timestamp_millis}
import org.apache.spark.sql.types.{DataType, LongType, StructType,
  TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.dql.{Compiler, LayoutStore, TestdataStore}
import graft.streaming.{SeriesIngest, SeriesStream}

/** The table catalog of [[Tables]]: building a DQL query starts no Spark
  * job, the declared [[Layout.Schema]] matches both series writers, a
  * rewritten table is inferred again, and eviction forgets exactly its
  * dir's entries.
  *
  * Runs over a small generated `events` table in the testdata shape
  * (TESTDATA.md), three days long, written per test dir.
  */
class TableCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val Day0 = 1704412800000L // 2024-01-05T00:00:00Z
  private val Day = 86400000L

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** 600 events over three days: ts_ms of row i is Day0 + i × 7.2 min */
  private def eventRows = (0 until 600).map { i =>
    val ms = Day0 + i * 432000L
    (i.toLong, ms, (i % 5).toLong, Seq("purchase", "click")(i % 2),
      (i % 97).toDouble, s"""{"k": ${i % 100}}""")
  }

  /** a testdata dir whose `events.ts` is encoded by `ts` from epoch ms */
  private def writeEvents(dir: String, ts: org.apache.spark.sql.Column): Unit = {
    val s = spark
    import s.implicits._
    eventRows.toDF("event_id", "ms", "user_id", "event_type", "value", "props")
      .select(col("event_id"), ts.as("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def ntz = timestamp_millis(col("ms")).cast(TimestampNTZType)

  private def tempDir(name: String): String =
    Files.createTempDirectory(s"graft-catalog-$name").toString

  private val Probe = "graft.catalog.probe"

  /** Spark jobs started on this thread while `body` runs. The listener bus
    * is asynchronous, so a marker job after `body` flushes it: once the
    * marker's start is seen, every earlier job's start has been.
    */
  private def jobsDuring(body: => Unit): Int = {
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Probe)))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(Probe, "body")
      try body finally sc.setLocalProperty(Probe, "marker")
      spark.range(1).collect()
      val deadline = System.currentTimeMillis() + 30000L
      while (!seen.contains("marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.contains("marker"), "listener never saw the marker job")
      seen.asScala.count(_ == "body")
    } finally {
      sc.setLocalProperty(Probe, null)
      sc.removeSparkListener(l)
    }
  }

  private def names(s: StructType): Seq[(String, DataType)] =
    s.fields.toSeq.map(f => (f.name, f.dataType))

  test("building a DQL query starts no Spark job") {
    val dir = tempDir("jobs")
    writeEvents(dir, ntz)
    val a = Day0 + Day / 2
    val b = Day0 + 2 * Day
    // events over the testdata store, after one warm read of the table
    SeriesOps.events(spark, dir).count()
    val events = "SELECT EVENTS FROM 'testdata' WHERE 'k' > 50 AND " +
      s"'event_type' == 'purchase' BETWEEN $a AND $b"
    var df: DataFrame = null
    assert(jobsDuring {
      df = Compiler.run(spark, new TestdataStore(dir), b, events)
    } == 0)
    assert(df.count() > 0)
    // a glob avg over a Layout table nothing has read yet
    val layout = s"$dir/layout"
    Layout.writeSeriesPartitioned(SeriesOps.seriesFresh(spark, dir), layout)
    val glob = s"SELECT avg('purchase'.* BUCKET 'testdata', 1 h) BETWEEN $a AND $b"
    assert(jobsDuring {
      df = Compiler.run(spark, new LayoutStore(layout), b, glob)
    } == 0)
    assert(df.count() > 0)
  }

  test("Layout.Schema is the schema both series writers produce") {
    val dir = tempDir("drift")
    writeEvents(dir, ntz)
    val copy = s"$dir/layout"
    Layout.writeSeriesPartitioned(SeriesOps.series(spark, dir), copy)
    val inferred = spark.read.parquet(copy).schema
    assert(names(inferred) == names(Layout.Schema))
    val s = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val slotted = SeriesIngest.slotted(
      MemoryStream[SeriesStream.Ev].toDF(), "10 seconds").schema
    assert(names(slotted) == names(Layout.Schema))
    assert(Layout.readSeries(spark, copy).exceptAll(
      spark.read.parquet(copy)).isEmpty)
  }

  test("a table rewritten under another ts encoding is inferred again") {
    val dir = tempDir("reinfer")
    SeriesOps.readNanosAsLong(spark)
    def decoded(): (DataType, Seq[Long]) = {
      val ev = SeriesOps.events(spark, dir)
      (ev.schema("ts").dataType,
        ev.orderBy("event_id").select("ts_ms").collect().map(_.getLong(0)).toSeq)
    }
    writeEvents(dir, col("ms") * 1000000L) // int64 nanos
    assert(jobsDuring(SeriesOps.events(spark, dir)) >= 1)
    assert(jobsDuring(SeriesOps.events(spark, dir)) == 0)
    val (t0, ms0) = decoded()
    assert(t0 == LongType)
    assert(ms0 == eventRows.map(_._2))
    writeEvents(dir, ntz) // same path, new identity
    assert(jobsDuring(SeriesOps.events(spark, dir)) >= 1)
    val (t1, ms1) = decoded()
    assert(t1 == TimestampNTZType)
    assert(ms1 == ms0)
  }

  test("evictArtifacts forgets its dir's entries and keeps the others") {
    val kept = tempDir("kept")
    val gone = tempDir("gone")
    Seq(kept, gone).foreach { d =>
      writeEvents(d, ntz)
      Tables(spark, d, "events")
    }
    Seq(kept, gone).foreach(d =>
      assert(Tables.catalogued(spark, s"$d/events.parquet")))
    Caches.evictArtifacts(spark, gone)
    assert(!Tables.catalogued(spark, s"$gone/events.parquet"))
    assert(Tables.catalogued(spark, s"$kept/events.parquet"))
    assert(jobsDuring(Tables(spark, kept, "events")) == 0)
    assert(jobsDuring(Tables(spark, gone, "events")) >= 1)
  }
}
