package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.stg.Staging

/** End-to-end staging pipeline (SURVEY.md §3 E1): source scan →
  * reconciliation counts → temp reload → upsert → full refresh →
  * audit log — the reference's `insert_into_staging` flow as one Spark
  * chain, exercising S2/S4/S6/S7/S11/S12/S10/A1/O11.
  */
class StgPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Harness.session(4)
  import spark.implicits._

  test("E1: csv source → reload temp → upsert → full refresh → audit") {
    // the in-memory catalog doesn't survive JVMs but warehouse files do —
    // clear stale table locations from previous runs
    import scala.reflect.io.Directory
    new Directory(new java.io.File("/tmp/graft_warehouse")).deleteRecursively()
    val dir = Files.createTempDirectory("graft_e1")
    val csv = dir.resolve("usda.csv")
    Files.writeString(csv,
      """country,production,report_date
        |Vietnam,100,2021-01-01
        |Brazil,200,2021-01-01
        |Colombia,50,2021-01-01
        |""".stripMargin)

    // S2: raw line count (header included) for reconciliation
    assert(Tables.rawLineCount(spark, csv.toString) === 4)

    // S1/S4: typed scan
    val staged = spark.read.option("header", "true").csv(csv.toString)
      .select($"country", $"production".cast("int").as("production"),
        $"report_date".cast("date").as("report_date"))
    assert(staged.count() === 3)

    // S6: two databases
    Tables.ensureDatabases(spark)

    // S12: truncate-reload the temp table
    Staging.reloadTemp(staged, "stg.tmp_usda")
    assert(spark.table("stg.tmp_usda").count() === 3)

    // J4 upsert into the public table (pre-seeded with a stale Vietnam row)
    val target = Seq(("Vietnam", 1, java.sql.Date.valueOf("2021-01-01")),
      ("Kenya", 70, java.sql.Date.valueOf("2020-12-01")))
      .toDF("country", "production", "report_date")
    val merged = Staging.upsertByNaturalKey(
      target, spark.table("stg.tmp_usda"), Seq("country", "report_date"))

    // S11: full refresh of the ODS table
    Staging.fullRefresh(merged, "ods.usda")
    val ods = spark.table("ods.usda")
    assert(ods.count() === 4) // 3 staged + Kenya survivor
    assert(ods.filter($"country" === "Vietnam").head().getAs[Int]("production") === 100)

    // S10/A1: reconcile + audit append
    val auditPath = dir.resolve("audit").toString
    val entry = Staging.reconcileAndLog(
      spark, auditPath, "stg_pipeline", "usda.csv", "ods.usda",
      staged, ods, startedAtMs = System.currentTimeMillis() - 1000)
    assert(entry.source_row === 3 && entry.target_row === 4)
    val audit = spark.read.parquet(auditPath)
    assert(audit.count() === 1)
    assert(audit.head().getAs[String]("target_name") === "ods.usda")
  }

  test("S7: REST-JSON value-array source explodes and flattens") {
    val dir = Files.createTempDirectory("graft_json")
    val json = dir.resolve("countries.json")
    Files.writeString(json,
      """{"value": [
        |  {"code": "VN", "dimension": "Country", "parent_code": "ASIA"},
        |  {"code": "BR", "dimension": "Country", "parent_code": "SAMER"}
        |]}""".stripMargin)
    val df = Tables.readRestJson(spark, json.toString)
    assert(df.columns.sorted.toSeq === Seq("code", "dimension", "parent_code"))
    assert(df.count() === 2)
    assert(df.filter($"code" === "VN").head().getAs[String]("parent_code") === "ASIA")
  }

  test("O11: Asia/Ho_Chi_Minh localized timestamp is UTC+7") {
    val utcNow = System.currentTimeMillis()
    val local = Staging.localizedNow(spark).head().getTimestamp(0).getTime
    val driftHours = (local - utcNow) / 3600000.0
    assert(math.abs(driftHours - 7.0) < 0.1)
  }
}
