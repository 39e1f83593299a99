package graft.core

import java.time.{Instant, LocalDateTime, ZoneOffset}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType,
  TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The three `events.ts` encodings: int64 nanos, TIMESTAMP_NTZ and
  * TIMESTAMP frames holding the same instants decode to the same `ts_ms`
  * through [[SeriesOps.tsMillis]], and [[SeriesOps.tsValue]] (the
  * sentinel's encode) round-trips through that decode in each type.
  */
class TsEncodingSpec extends AnyFunSuite with BeforeAndAfterAll {
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

  // sub-millisecond parts, so the decode's truncation to ms is exercised;
  // the last instant is the replay sentinel's (2100-01-01)
  private val instants = Seq(
    Instant.ofEpochSecond(1704067200L, 123456789L),
    Instant.ofEpochSecond(1704412800L, 999999999L),
    Instant.ofEpochMilli(4102444800000L))
  private val millis = instants.map(_.toEpochMilli)

  private def frames: Seq[DataFrame] = {
    val s = spark
    import s.implicits._
    Seq(
      instants.map(i => i.getEpochSecond * 1000000000L + i.getNano).toDF("ts"),
      instants.map(LocalDateTime.ofInstant(_, ZoneOffset.UTC)).toDF("ts"),
      instants.toDF("ts"))
  }

  private def decoded(df: DataFrame): Seq[Long] = {
    val s = spark
    import s.implicits._
    df.select(SeriesOps.tsMillis(df.schema("ts").dataType)).as[Long]
      .collect().toSeq
  }

  test("nanos, TIMESTAMP_NTZ and TIMESTAMP decode to the same ts_ms") {
    val fs = frames
    assert(fs.map(_.schema("ts").dataType) ==
      Seq[DataType](LongType, TimestampNTZType, TimestampType))
    fs.foreach { df =>
      assert(decoded(df) == millis, df.schema("ts").dataType)
    }
  }

  test("the encode round-trips through the decode in every encoding") {
    Seq[DataType](LongType, TimestampNTZType, TimestampType).foreach { t =>
      val enc = spark.range(1).select(
        millis.zipWithIndex.map { case (m, i) =>
          SeriesOps.tsValue(m, t).as(s"ts$i")
        }: _*)
      millis.indices.foreach { i =>
        val one = enc.select(col(s"ts$i").as("ts"))
        assert(one.schema("ts").dataType == t)
        assert(decoded(one) == Seq(millis(i)), t)
      }
    }
  }
}
