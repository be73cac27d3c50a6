package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The events readers must normalize BOTH physical `ts` forms the
  * driver testdata has shipped — INT64 TIMESTAMP(NANOS) (surfaced as a
  * LONG under the legacy nanos conf) and plain TIMESTAMP(MICROS)
  * (surfaced as TIMESTAMP_NTZ) — to one micros TimestampType column
  * with identical values, so a testdata regeneration can never again
  * fail every events query (round 8's DATATYPE_MISMATCH episode). */
class EventsReaderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Harness.session(4)
  import spark.implicits._

  // micros chosen so the ns form (µs·1000) round-trips exactly
  private val micros = Seq(1700000000000000L, 1700000000123456L, 1700003600999999L)

  private def writeForm(dir: String, tsCol: org.apache.spark.sql.Column): Unit =
    micros.zipWithIndex
      .toDF("us", "event_id")
      .select($"event_id".cast("long"), tsCol.as("ts"),
        lit(1L).as("user_id"), lit("view").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def readMicros(dir: String): Seq[Long] = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === TimestampType,
      s"ts must normalize to TimestampType, got ${df.schema("ts").dataType}")
    df.select(unix_micros($"ts")).as[Long].collect().toSeq.sorted
  }

  test("long-nanos and micros-ntz events files normalize identically") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_events_forms").toString
    // form 1: epoch-nanos as a plain INT64 column (what the legacy conf
    // hands Spark for TIMESTAMP(NANOS) parquet)
    writeForm(s"$base/ns", ($"us" * 1000L).cast("long"))
    // form 2: TIMESTAMP(MICROS) without UTC adjustment → TIMESTAMP_NTZ
    writeForm(s"$base/us", timestamp_micros($"us").cast(TimestampNTZType))
    // form 3: already-LTZ timestamps pass through untouched
    writeForm(s"$base/ltz", timestamp_micros($"us"))
    val expected = micros.sorted
    assert(readMicros(s"$base/ns") === expected)
    assert(readMicros(s"$base/us") === expected)
    assert(readMicros(s"$base/ltz") === expected)
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("driver testdata events read as micros timestamps with expected rows") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.count() > 0)
  }
}
