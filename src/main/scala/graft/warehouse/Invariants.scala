package graft.warehouse

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.stg.Staging

final case class Check(name: String, ok: Boolean, detail: String)

/** The paper's warehouse invariants (SURVEY.md §5) over a
  * [[Warehouse]] root. Each recomputes its figure from the written
  * outputs, in plain Scala or by an independent Spark plan, rather
  * than trusting the chain's own frames. */
object Invariants {

  private def check(name: String)(body: => (Boolean, String)): Check =
    try { val (ok, d) = body; Check(name, ok, d) }
    catch { case e: Exception => Check(name, ok = false, s"threw: ${e.getMessage}") }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def csv(spark: SparkSession, path: String): Array[Row] =
    spark.read.option("header", "true").csv(path).collect()

  /** The staged barchart store holds exactly what `load` leaves: its
    * row count and the sum of `last` on the 0.05 tick grid. */
  def storeState(spark: SparkSession, w: Warehouse, load: Load): Check =
    check("stg_store_state") {
      val r = spark.read.parquet(w.store("barchart"))
        .agg(count(lit(1)), sum(round(col("last").cast("double") * 20).cast("long")))
        .head()
      (r.getLong(0) == load.stagedRows && r.getLong(1) == load.stagedTicks,
        s"rows=${r.getLong(0)}/${load.stagedRows} ticks=${r.getLong(1)}/${load.stagedTicks}")
    }

  /** spread = price(mo=3) - price(mo=2) on every date of the extracts. */
  def spread(spark: SparkSession, w: Warehouse): Check = check("mart_spread") {
    val ny = csv(spark, w.mart("ny_prices"))
      .map(r => (r.getString(0), r.getString(1).toInt) -> r.getString(2).toDouble).toMap
    val sp = csv(spark, w.mart("spread"))
    val bad = sp.filterNot { r =>
      val d = r.getString(1)
      (ny.get((d, 3)), ny.get((d, 2)), Option(r.getString(0))) match {
        case (Some(p3), Some(p2), Some(s)) => close(s.toDouble, p3 - p2)
        case (p3, p2, s) => (p3.isEmpty || p2.isEmpty) && s.isEmpty
      }
    }
    val dates = ny.keys.map(_._1).toSet.size
    (bad.isEmpty && sp.length == dates && sp.nonEmpty,
      s"dates=${sp.length}/$dates bad=${bad.length}")
  }

  /** MA-50 / MA-200 are 51- / 201-row trailing frames over one contract
    * month ordered by date, recomputed from the fact's `last`. */
  def movingAverages(w: Warehouse, mo: String = "2"): Check =
    check("ods_moving_averages") {
      val rows = w.factWithDates.filter(col("mo") === mo)
        .select(col("date_actual").cast("string"), col("last"), col("ma_50"), col("ma_200"))
        .collect().sortBy(_.getString(0))
      val last = rows.map(_.getDouble(1))
      def trailing(i: Int, n: Int): Double = {
        val from = math.max(0, i - n + 1)
        last.slice(from, i + 1).sum / (i + 1 - from)
      }
      val bad = rows.indices.count { i =>
        !close(rows(i).getDouble(2), trailing(i, 51)) ||
          !close(rows(i).getDouble(3), trailing(i, 201))
      }
      (bad == 0 && rows.length > 201, s"rows=${rows.length} bad=$bad")
    }

  /** Net = Long + Short per player; the unpivot round-trips to the wide
    * staged COT rows; the per-date totals sum the four players. */
  def cot(spark: SparkSession, w: Warehouse): Check = check("mart_cot") {
    val long = csv(spark, w.mart("cot_long"))
    val idx = long.head.schema.fieldNames.zipWithIndex.toMap
    def v(r: Row, c: String): Long = r.getString(idx(c)).toLong
    val netOk = long.forall(r => v(r, "CIT_Net") == v(r, "CIT_Long") + v(r, "CIT_Short"))
    val back = long.map { r =>
      val p = r.getString(idx("player")).toLowerCase
      (r.getString(idx("date_actual")).take(10), p) -> (v(r, "CIT_Long"), -v(r, "CIT_Short"))
    }.toMap
    val wide = spark.read.parquet(w.store("cot")).collect()
    val players = Seq("com", "index", "ncom", "nrep")
    val roundTrip = back.size == wide.length * 4 && wide.forall { r =>
      val d = r.getAs[java.sql.Date]("date_actual").toString
      players.forall(p => back.get((d, p)).contains(
        (r.getAs[Long](s"${p}_long"), r.getAs[Long](s"${p}_short"))))
    }
    val totals = csv(spark, w.mart("cot_totals"))
    val netByDate = long.groupBy(_.getString(idx("date_actual")))
      .map { case (d, rs) => d -> rs.map(v(_, "CIT_Net")).sum }
    val totalsOk = totals.length == netByDate.size && totals.forall { r =>
      netByDate.get(r.getString(0)).contains(r.getString(2).toLong)
    }
    (netOk && roundTrip && totalsOk,
      s"net=$netOk round_trip=$roundTrip totals=$totalsOk rows=${long.length}")
  }

  /** Upserting the batch of `load` again leaves the store unchanged. */
  def idempotent(spark: SparkSession, w: Warehouse, load: Load): Check =
    check("stg_upsert_idempotent") {
      val once = spark.read.parquet(w.store("barchart"))
      val twice = Staging.upsertByNaturalKey(once, w.staged(load), Seq("snapshot_date", "mo"))
      val a = once.exceptAll(twice).count()
      val b = twice.exceptAll(once).count()
      (a == 0 && b == 0, s"only_once=$a only_twice=$b")
    }

  /** One audit row per load, in load order, each with the expected
    * reconciled counts (see [[Manifest.audits]]). */
  def audit(spark: SparkSession, w: Warehouse, expected: Seq[(String, Long, Long)]): Check =
    check("stg_audit") {
      val got = spark.read.parquet(w.audit).orderBy("created_date").collect().toSeq
        .map(r => (r.getAs[String]("target_name"), r.getAs[Long]("source_row"),
          r.getAs[Long]("target_row")))
      (got == expected, s"rows=${got.size}/${expected.size} " +
        s"mismatched=${got.zip(expected).count(p => p._1 != p._2)}")
    }
}
