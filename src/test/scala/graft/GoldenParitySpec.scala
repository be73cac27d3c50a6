package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.mart.Extracts

/** Golden-parity suite (SURVEY.md §5): the reference's golden extract
  * CSVs (`Data Processed` directory) are internally consistent; feeding
  * them through this engine's mart operators must reproduce each other
  * value-exactly. Reference files are read-only inputs here.
  */
class GoldenParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = Harness.session(4)

  private val goldenDir = "/root/reference/Data Processed"

  /** Read a golden CSV: header on (BOM sidestepped by positional rename),
    * CRLF tolerated by the parser. */
  private def golden(name: String, cols: String*): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(s"$goldenDir/$name")
    df.toDF(cols: _*)
  }

  private lazy val nyGolden =
    golden("NY prices.csv", "date_actual", "mo", "ny_price")
  private lazy val spreadGolden =
    golden("Spead.csv", "spread_max_min", "date_actual")
  private lazy val maGolden =
    golden("MA50 MA200.csv", "ma200", "ma50", "ny_price", "date_actual")
  private lazy val cotLongGolden =
    golden("COT_Long by date_actual and player.csv", "date_actual", "cit_long", "player")
  private lazy val cotShortGolden =
    golden("COT_Short by date_actual and player (1).csv", "date_actual", "cit_short", "player")
  private lazy val cotNetGolden =
    golden("COT_Short by date_actual and player (2).csv", "date_actual", "cit_net", "player")
  private lazy val cotTotalsGolden =
    golden("CO_Net and Short by date_actual.csv", "date_actual", "cit_long", "cit_net", "cit_short")

  test("Spead.csv = engine spread over NY prices golden (237 rows, exact)") {
    val ours = Extracts.spread(nyGolden)
    assert(ours.count() === 237)
    val joined = ours.alias("o")
      .join(spreadGolden.alias("g"), Seq("date_actual"))
    assert(joined.count() === 237)
    val mismatches = joined
      .filter(col("o.spread_max_min") =!= col("g.spread_max_min")).count()
    assert(mismatches === 0)
  }

  test("MA50 MA200.csv NY-price column = NY prices mo=2 series (J5, exact)") {
    val mo2 = nyGolden.filter(col("mo") === 2)
      .select(col("date_actual"), col("ny_price").as("p2"))
    val joined = maGolden.join(mo2, Seq("date_actual"))
    assert(joined.count() === 237)
    assert(joined.filter(col("ny_price") =!= col("p2")).count() === 0)
  }

  test("COT invariant: Net = Long + Short per (date, player) on 1868 rows") {
    val j = cotLongGolden
      .join(cotShortGolden, Seq("date_actual", "player"))
      .join(cotNetGolden, Seq("date_actual", "player"))
    assert(j.count() === 1868)
    assert(j.filter(col("cit_net") =!= col("cit_long") + col("cit_short")).count() === 0)
  }

  test("CO_Net totals = engine per-date sums over players (467 rows, exact)") {
    val longShort = cotLongGolden
      .join(cotShortGolden, Seq("date_actual", "player"))
      .withColumn("CIT_Long", col("cit_long"))
      .withColumn("CIT_Short", col("cit_short"))
      .withColumn("CIT_Net", col("cit_long") + col("cit_short"))
    val totals = Extracts.cotDateTotals(longShort)
    assert(totals.count() === 467)
    val j = totals.alias("o").join(cotTotalsGolden.alias("g"), Seq("date_actual"))
    assert(j.count() === 467)
    assert(j.filter(
      col("o.CIT_Long") =!= col("g.cit_long") ||
      col("o.CIT_Net") =!= col("g.cit_net") ||
      col("o.CIT_Short") =!= col("g.cit_short")).count() === 0)
  }

  test("unpivot round-trip: wide COT → cotLong reproduces all three goldens") {
    // build the wide FIXTURES §A5 shape from the long goldens (shorts
    // stored positive in wide form, negated on unpivot)
    val wide = cotLongGolden
      .join(cotShortGolden, Seq("date_actual", "player"))
      .groupBy(col("date_actual"))
      .pivot("player", Seq("Com", "Index", "Ncom", "Nrep"))
      .agg(first(col("cit_long")).as("long"), first(-col("cit_short")).as("short"))
      .toDF("date_actual", "com_long", "com_short", "index_long", "index_short",
        "ncom_long", "ncom_short", "nrep_long", "nrep_short")
    val long = Extracts.cotLong(wide)
    assert(long.count() === 1868)
    // rename golden measure columns: Spark resolution is case-insensitive,
    // so cit_long would clash with our CIT_Long
    val j = long
      .join(cotLongGolden.withColumnRenamed("cit_long", "g_long"),
        Seq("date_actual", "player"))
      .join(cotShortGolden.withColumnRenamed("cit_short", "g_short"),
        Seq("date_actual", "player"))
      .join(cotNetGolden.withColumnRenamed("cit_net", "g_net"),
        Seq("date_actual", "player"))
    assert(j.count() === 1868)
    assert(j.filter(
      col("CIT_Long") =!= col("g_long") ||
      col("CIT_Short") =!= col("g_short") ||
      col("CIT_Net") =!= col("g_net")).count() === 0)
  }

  test("COT dates are Tuesdays (holiday → Monday): 467 dates, ≥447 Tuesdays") {
    val dows = cotTotalsGolden
      .select(date_format(col("date_actual"), "E").as("dow"))
      .groupBy("dow").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dows.values.sum === 467)
    assert(dows.getOrElse("Tue", 0L) >= 447)
  }

  test("S3 golden-format writer: header order, timestamp rendering, value round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_golden").toString
    Extracts.writeGoldenCsv(
      Extracts.spread(nyGolden), s"$dir/spread", Seq("date_actual"))
    val back = spark.read.option("header", "true").csv(s"$dir/spread")
    assert(back.columns.toSeq === Seq("spread_max_min", "date_actual"))
    assert(back.count() === 237)
    // the reference's date rendering: 'YYYY-MM-DD HH:MM:SS'
    assert(back.filter(
      !col("date_actual").rlike("^\\d{4}-\\d{2}-\\d{2} 00:00:00$")).count() === 0)
    // values round-trip: parse back and re-compare to the golden exactly
    val j = back.select(col("spread_max_min").cast("double").as("w"),
        to_timestamp(col("date_actual")).cast("timestamp").as("date_actual"))
      .join(spreadGolden, Seq("date_actual"))
    assert(j.count() === 237)
    assert(j.filter(col("w") =!= col("spread_max_min")).count() === 0)
  }

  test("KC=F.csv reads with literal-null handling: 5957 rows, 100 null closes") {
    val kc = graft.sources.Tables.readOhlcvCsv(
      spark, "/root/reference/Data Sample/KC=F.csv")
    assert(kc.count() === 5957)
    assert(kc.filter(col("Close").isNull).count() === 100)
    assert(kc.filter(col("Date").isNull).count() === 0)
  }
}
