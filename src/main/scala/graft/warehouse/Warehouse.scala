package graft.warehouse

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.mart.Extracts
import graft.ods.OdsBuild
import graft.sources.Tables
import graft.stg.{Normalizer, Staging}

/** Wraps one step of the chain, named `layer.step` (`stg.upsert`), so a
  * caller can time or trace it. [[Span.none]] just runs the body. */
trait Span { def apply[A](step: String)(body: => A): A }

object Span {
  val none: Span = new Span { def apply[A](step: String)(body: => A): A = body }
}

/** The paper's warehouse chain (SURVEY.md §3): E1 staging (scan,
  * normalize, upsert, audit), E2 ODS star build, E3 mart extracts, over
  * a source directory in the layout `perfbench/gen.py` writes. One
  * [[Warehouse]] is one warehouse root:
  *
  *   stg/{ohlcv,barchart,cot,usda,audit}   staged stores and the audit log
  *   ods/{dim_date,dim_contract,fact}      the star
  *   mart/{ny_prices,spread,ma,cot_long,cot_totals}  golden-format CSVs
  *   tmp/                                  the truncate-reload temp tables
  */
final class Warehouse(spark: SparkSession, val root: String, span: Span = Span.none) {
  private val db = "wh_" + root.replaceAll("[^A-Za-z0-9]+", "_")
  spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$root/tmp'")

  def store(name: String): String = s"$root/stg/$name"
  def audit: String = s"$root/stg/audit"
  def ods(name: String): String = s"$root/ods/$name"
  def mart(name: String): String = s"$root/mart/$name"

  /** E1 scan: the schema'd read, materialized into the load's
    * truncate-reload temp table (the reference's tmp sink). */
  private def scan(tmp: String)(read: => DataFrame): DataFrame =
    span("sources.scan") {
      Staging.reloadTemp(read, s"$db.$tmp")
      spark.table(s"$db.$tmp")
    }

  private def barchartCsv(path: String): DataFrame =
    spark.read.option("header", "true").option("nullValue", "null")
      .schema(Tables.stgBarchartSchema).csv(path)

  /** Staging keeps the barchart rows that have a price. */
  private def priced(df: DataFrame): DataFrame = df.filter(col("last").isNotNull)

  /** The rows of a barchart load that staging keeps. */
  def staged(load: Load): DataFrame = priced(barchartCsv(load.path))

  /** E1 upsert: the staged batch replaces its natural keys in the
    * store, published by [[Staging.publishStore]]'s crash-safe swap. */
  private def upsert(name: String, batch: DataFrame, keys: Seq[String]): Unit =
    span("stg.upsert") {
      val path = store(name)
      val target = Staging.readStore(spark, path, s"stg_$name").getOrElse(batch.limit(0))
      Staging.publishStore(Staging.upsertByNaturalKey(target, batch, keys), path, s"stg_$name")
    }

  private def logLoad(name: String, source: DataFrame, t0: Long): Unit =
    span("stg.audit") {
      Staging.reconcileAndLog(spark, audit, "stg_load", s"$name.csv", s"stg_$name",
        source, spark.read.parquet(store(name)), t0): Unit
    }

  /** E1 for one source: scan, upsert the rows `keep` selects, audit. */
  private def stage(name: String, keys: Seq[String], read: => DataFrame)(
      keep: DataFrame => DataFrame): Unit = {
    val t0 = System.currentTimeMillis()
    val tmp = scan(s"tmp_$name")(read)
    upsert(name, keep(tmp), keys)
    logLoad(name, tmp, t0)
  }

  private def stageBarchart(path: String): Unit =
    stage("barchart", Seq("snapshot_date", "mo"), barchartCsv(path))(priced)

  /** E1 for the messy USDA extracts: each is scanned as text, normalized
    * and cast, then all are upserted by (country, season). */
  private def stageUsda(reports: Seq[(String, String)]): Unit = {
    val t0 = System.currentTimeMillis()
    val ints = Seq("beginning_stocks", "production", "area", "exports")
    val batch = reports.zipWithIndex.map { case ((path, season), k) =>
      val raw = scan(s"tmp_usda_raw_$k")(spark.read.option("header", "true").csv(path))
      span("stg.normalize") {
        val norm = Normalizer.castColumnsToInt(Normalizer.normalizeUsdaExtract(raw), ints)
          .select((col("country") +: ints.map(col)) :+ lit(season).as("season"): _*)
        Staging.reloadTemp(norm, s"$db.tmp_usda_$k")
        spark.table(s"$db.tmp_usda_$k")
      }
    }.reduce(_ unionByName _)
    upsert("usda", batch, Seq("country", "season"))
    logLoad("usda", batch, t0)
  }

  /** E2: the dimensions and the windowed fact, each written out. */
  private def buildOds(): Unit = {
    span("ods.dims") {
      val stg = spark.read.parquet(store("barchart"))
      OdsBuild.buildDateDim(stg, "snapshot_date")
        .write.mode(SaveMode.Overwrite).parquet(ods("dim_date"))
      OdsBuild.buildContractDim(stg, "contract")
        .write.mode(SaveMode.Overwrite).parquet(ods("dim_contract"))
    }
    span("ods.fact") {
      OdsBuild.buildFact(spark.read.parquet(store("barchart")),
        spark.read.parquet(ods("dim_date")), spark.read.parquet(ods("dim_contract")))
        .write.mode(SaveMode.Overwrite).parquet(ods("fact"))
    }
  }

  /** The written fact with its calendar date, as the mart reads it. */
  def factWithDates: DataFrame =
    spark.read.parquet(ods("fact")).join(broadcast(spark.read.parquet(ods("dim_date"))),
      Seq("date_id"))

  private def extract(name: String)(df: => DataFrame): Unit =
    span("mart.extract") {
      Extracts.writeGoldenCsv(df, mart(name), Seq("date_actual"))
    }

  /** E3 price extracts for one year of the fact. */
  private def priceMart(year: Int): Unit = {
    extract("ny_prices")(Extracts.nyPrices(factWithDates, year, Seq(2, 3)))
    extract("spread")(Extracts.spread(Extracts.nyPrices(factWithDates, year, Seq(2, 3))))
    extract("ma")(Extracts.maExtract(factWithDates, year))
  }

  /** One E1 -> E2 -> E3 chain over every history source of
    * `sourceDir`; returns its manifest, whose deltas load next. */
  def backfill(sourceDir: String): Manifest = {
    val m = Manifest(sourceDir)
    stage("ohlcv", Seq("Date"), Tables.readOhlcvCsv(spark, m.ohlcv))(
      _.filter(col("Close").isNotNull))
    stageBarchart(m.barchart.path)
    stage("cot", Seq("date_actual"),
      spark.read.option("header", "true").schema(Tables.cotReportSchema).csv(m.cot))(identity)
    stageUsda(m.usda)
    buildOds()
    priceMart(m.barchart.year)
    extract("cot_long")(Extracts.cotLong(spark.read.parquet(store("cot"))))
    extract("cot_totals")(Extracts.cotDateTotals(
      Extracts.cotLong(spark.read.parquet(store("cot")))))
    m
  }

  /** One daily load: a one-day barchart delta through E1, E2 and E3. */
  def dailyLoad(delta: Load): Unit = {
    stageBarchart(delta.path)
    buildOds()
    priceMart(delta.year)
  }
}

/** One barchart file (the history or a one-day delta): its path, the
  * year of its last day, its data rows, and the staged store's rows
  * and sum of `last` in 0.05 ticks once it is loaded. */
final case class Load(path: String, year: Int, rows: Long, stagedRows: Long,
    stagedTicks: Long)

/** A source directory's `manifest.json`: the source paths, USDA
  * reports with their seasons, and the row counts each load expects. */
final case class Manifest(ohlcv: String, ohlcvRows: Long, ohlcvNulls: Long,
    barchart: Load, cot: String, cotRows: Long,
    usda: Seq[(String, String)], usdaKept: Long, deltas: IndexedSeq[Load]) {

  /** (target, source rows, target rows) of every audit row after the
    * backfill and the first `loads` deltas, in load order. */
  def audits(loads: Int): Seq[(String, Long, Long)] =
    Seq(("stg_ohlcv", ohlcvRows, ohlcvRows - ohlcvNulls),
      ("stg_barchart", barchart.rows, barchart.stagedRows),
      ("stg_cot", cotRows, cotRows),
      ("stg_usda", usdaKept, usdaKept)) ++
      deltas.take(loads).map(d => ("stg_barchart", d.rows, d.stagedRows))
}

object Manifest {
  def apply(dir: String): Manifest = {
    val m = new ObjectMapper().readTree(new File(s"$dir/manifest.json"))
    val f = m.get("files")
    def path(n: JsonNode) = s"$dir/${n.get("path").asText}"
    def load(n: JsonNode, day: JsonNode) = Load(path(n), day.asText.take(4).toInt,
      n.get("rows").asLong, n.get("staged_rows").asLong, n.get("staged_last_ticks").asLong)
    val usda = f.get("usda").elements().asScala.toSeq
    Manifest(path(f.get("ohlcv")), f.get("ohlcv").get("rows").asLong,
      f.get("ohlcv").get("null_rows").asLong,
      load(f.get("barchart"), m.get("last_day")),
      path(f.get("cot")), f.get("cot").get("rows").asLong,
      usda.map(u => path(u) -> u.get("season").asText), usda.map(_.get("kept_rows").asLong).sum,
      f.get("deltas").elements().asScala.map(d => load(d, d.get("day"))).toIndexedSeq)
  }
}
