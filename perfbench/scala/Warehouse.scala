package graft.perfbench

import java.nio.file.{Files => JFiles, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.mart.Extracts
import graft.ods.OdsBuild
import graft.sources.Tables
import graft.stg.{Normalizer, Staging}

/** The paper's warehouse chain driven through the program's public
  * functions: E1 staging (scan, normalize, upsert, audit), E2 ODS star
  * build, E3 mart extracts. One [[Warehouse]] is one warehouse root. */
final class Warehouse(spark: SparkSession, tr: Tracer, data: String,
    val root: String, dbName: String) {
  val manifest: Manifest = Manifest(data)
  private val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
  private val barKeys = Seq("snapshot_date", "mo")
  spark.sql(s"CREATE DATABASE IF NOT EXISTS $dbName LOCATION '$root/tmp'")

  def store(name: String): String = s"$root/stg/$name"
  def audit: String = s"$root/stg/audit"

  /** Bytes of the source files read by the last chain or load. */
  var sourceBytes = 0L
  /** Raw lines (headers excluded) read by the last chain or load. */
  var rowsRead = 0L
  /** Audit entries written so far, in load order. */
  val audits = scala.collection.mutable.ArrayBuffer[Staging.AuditEntry]()

  /** E1 scan: raw line count plus the schema'd read, materialized into
    * the run's truncate-reload temp table (the reference's tmp sink). */
  private def scan(rel: String, tmp: String)(read: String => DataFrame): DataFrame =
    tr.span("sources.scan", "sources") {
      val path = s"$data/$rel"
      rowsRead += Tables.rawLineCount(spark, path) - 1
      sourceBytes += JFiles.size(Paths.get(path))
      Staging.reloadTemp(read(path), s"$dbName.$tmp")
      spark.table(s"$dbName.$tmp")
    }

  private def barchartCsv(path: String): DataFrame =
    spark.read.option("header", "true").option("nullValue", "null")
      .schema(Tables.stgBarchartSchema).csv(path)

  /** E1 upsert: the staged batch replaces its natural keys in the store,
    * written beside the live store and swapped in. */
  private def upsert(name: String, staged: DataFrame, keys: Seq[String]): Unit =
    tr.span("stg.upsert", "stg") {
      val path = store(name)
      val target =
        if (fs.exists(new HPath(path))) spark.read.parquet(path)
        else staged.limit(0)
      Staging.upsertByNaturalKey(target, staged, keys)
        .write.mode(SaveMode.Overwrite).parquet(s"$path.new")
      val live = new HPath(path)
      fs.delete(live, true)
      require(fs.rename(new HPath(s"$path.new"), live),
        s"could not swap $path.new into place")
    }

  private def logLoad(name: String, source: DataFrame, t0: Long): Unit =
    tr.span("stg.audit", "stg") {
      audits += Staging.reconcileAndLog(spark, audit, "stg_load", s"$name.csv",
        s"stg_$name", source, spark.read.parquet(store(name)), t0)
    }

  /** E1 for one source: scan, upsert the rows `keep` selects, audit. */
  private def stage(name: String, rel: String, keys: Seq[String],
      read: String => DataFrame, keep: DataFrame => DataFrame): Unit = {
    val t0 = System.currentTimeMillis()
    val tmp = scan(rel, s"tmp_$name")(read)
    upsert(name, keep(tmp), keys)
    logLoad(name, tmp, t0)
  }

  /** E1 for the messy USDA extracts: each is scanned as text, normalized
    * and cast, then all are upserted by (country, season). */
  private def stageUsda(): Unit = {
    val t0 = System.currentTimeMillis()
    val parts = manifest.usda.zipWithIndex.map { case ((rel, season), k) =>
      val raw = scan(rel, s"tmp_usda_raw_$k")(p => spark.read.option("header", "true").csv(p))
      tr.span("stg.normalize", "stg") {
        val norm = Normalizer.castColumnsToInt(Normalizer.normalizeUsdaExtract(raw),
          Seq("beginning_stocks", "production", "area", "exports"))
          .select(col("country"), col("beginning_stocks"), col("production"),
            col("area"), col("exports"), lit(season).as("season"))
        Staging.reloadTemp(norm, s"$dbName.tmp_usda_$k")
        spark.table(s"$dbName.tmp_usda_$k")
      }
    }
    val staged = parts.reduce(_ unionByName _)
    upsert("usda", staged, Seq("country", "season"))
    logLoad("usda", staged, t0)
  }

  /** E2: dimensions and the windowed fact, each written out. */
  private def ods(): Unit = {
    tr.span("ods.dims", "ods") {
      val stg = spark.read.parquet(store("barchart"))
      OdsBuild.buildDateDim(stg, "snapshot_date")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/ods/dim_date")
      OdsBuild.buildContractDim(stg, "contract")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/ods/dim_contract")
    }
    tr.span("ods.fact", "ods") {
      OdsBuild.buildFact(spark.read.parquet(store("barchart")),
        spark.read.parquet(s"$root/ods/dim_date"),
        spark.read.parquet(s"$root/ods/dim_contract"))
        .write.mode(SaveMode.Overwrite).parquet(s"$root/ods/fact")
    }
  }

  /** The fact with its calendar date, as the mart reads it. */
  def factWithDates: DataFrame = {
    val dd = spark.read.parquet(s"$root/ods/dim_date")
    spark.read.parquet(s"$root/ods/fact").join(broadcast(dd), Seq("date_id"))
  }

  private def extract(name: String)(df: => DataFrame): Unit =
    tr.span("mart.extract", "mart") {
      Extracts.writeGoldenCsv(df, s"$root/mart/$name", Seq("date_actual"))
    }

  /** E3 price extracts for the latest year in the fact. */
  private def priceMart(year: Int): Unit = {
    extract("ny_prices")(Extracts.nyPrices(factWithDates, year, Seq(2, 3)))
    extract("spread")(Extracts.spread(Extracts.nyPrices(factWithDates, year, Seq(2, 3))))
    extract("ma")(Extracts.maExtract(factWithDates, year))
  }

  private def resetCounters(): Unit = { sourceBytes = 0L; rowsRead = 0L }

  /** One cold E1 -> E2 -> E3 chain over every history source. */
  def backfill(): Unit = {
    resetCounters()
    stage("ohlcv", manifest.ohlcv, Seq("Date"), Tables.readOhlcvCsv(spark, _),
      _.filter(col("Close").isNotNull))
    stage("barchart", manifest.barchart, barKeys, barchartCsv,
      _.filter(col("last").isNotNull))
    stage("cot", manifest.cot, Seq("date_actual"),
      spark.read.option("header", "true").schema(Tables.cotReportSchema).csv(_),
      identity)
    stageUsda()
    ods()
    priceMart(manifest.lastYear)
    extract("cot_long")(Extracts.cotLong(spark.read.parquet(store("cot"))))
    extract("cot_totals")(Extracts.cotDateTotals(
      Extracts.cotLong(spark.read.parquet(store("cot")))))
  }

  /** One daily load: the k-th one-day barchart delta through the chain. */
  def dailyLoad(k: Int): Unit = {
    resetCounters()
    val d = manifest.deltas(k)
    stage("barchart", d.path, barKeys, barchartCsv, _.filter(col("last").isNotNull))
    ods()
    priceMart(d.year)
  }

  /** The staged batch of delta `k`. */
  def stagedBatch(k: Int): DataFrame =
    barchartCsv(s"$data/${manifest.deltas(k).path}").filter(col("last").isNotNull)

  /** Size of every file under the root, by relative path. */
  def files(): Map[String, Long] = Files.sizes(root)
}

object Warehouse {
  /** Bytes of files new or resized between two [[Warehouse.files]]
    * snapshots, per top-level directory (stg, ods, mart, tmp). Writes
    * always produce new part-file names, so this is the bytes written. */
  def written(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.toSeq.filter { case (p, n) => !before.get(p).contains(n) }
      .groupBy(_._1.takeWhile(_ != '/')).map { case (k, v) => k -> v.map(_._2).sum }
}

final case class Delta(path: String, year: Int, rows: Long, stagedRows: Long,
    stagedTicks: Long)

/** The generator's manifest: source paths and the expected staged state. */
final case class Manifest(ohlcv: String, barchart: String, cot: String,
    usda: Seq[(String, String)], deltas: IndexedSeq[Delta], lastYear: Int,
    stagedRows: Long, barchartRows: Long,
    ohlcvRows: Long, ohlcvNulls: Long, cotRows: Long, usdaKept: Long)

object Manifest {
  def apply(dir: String): Manifest = {
    val m = new ObjectMapper().readTree(new java.io.File(s"$dir/manifest.json"))
    val f = m.get("files")
    def path(n: JsonNode) = n.get("path").asText
    Manifest(path(f.get("ohlcv")), path(f.get("barchart")), path(f.get("cot")),
      f.get("usda").elements().asScala.map(u => path(u) -> u.get("season").asText).toSeq,
      f.get("deltas").elements().asScala.map { d =>
        Delta(path(d), d.get("day").asText.take(4).toInt, d.get("rows").asLong,
          d.get("staged_rows").asLong, d.get("staged_last_ticks").asLong)
      }.toIndexedSeq,
      m.get("last_day").asText.take(4).toInt,
      f.get("barchart").get("staged_rows").asLong,
      f.get("barchart").get("rows").asLong,
      f.get("ohlcv").get("rows").asLong, f.get("ohlcv").get("null_rows").asLong,
      f.get("cot").get("rows").asLong,
      f.get("usda").elements().asScala.map(_.get("kept_rows").asLong).sum)
  }
}
