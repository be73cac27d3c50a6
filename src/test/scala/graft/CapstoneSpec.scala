package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Capstone end-to-end parity (VERDICT r5 #6): run the FULL `Pipeline`
  * main over the reference's real `Data Sample/KC=F.csv` — twice, so
  * the upsert path exercises a warm store — then assert SURVEY §5's
  * cross-derivation invariants on the artifacts it wrote. The stage
  * mechanics are proven on synthesized tables in StgPipelineSpec; this
  * spec is the one that fails if any golden invariant breaks on the
  * actual end-to-end run over the actual file.
  */
class CapstoneSpec extends AnyFunSuite {

  private val outDir =
    java.nio.file.Files.createTempDirectory("graft_capstone").toString

  // Runs the capstone twice (second run = J4 upsert against a warm
  // store). Pipeline.main stops its SparkSession on exit, so the
  // assertions below always build a fresh one AFTER this completes.
  private lazy val ran: Unit = {
    Pipeline.main(Array(outDir))
    Pipeline.main(Array(outDir))
  }

  private lazy val spark: SparkSession = { ran; Harness.session(4) }

  private def csvOut(name: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$outDir/$name")

  test("E1 on the real file: 5957 raw rows stage to 5857; upsert twice = once") {
    val stg = spark.read.parquet(s"$outDir/stg_ohlcv")
    // 5,957 data rows, 100 literal-null Close rows (BASELINE.md) — and
    // the SECOND run's upsert must not have duplicated any natural key
    assert(stg.count() === 5857L)
    assert(stg.select("Date").distinct().count() === 5857L)
  }

  test("E2 fact: two contract months per staged date, MA columns present") {
    val fact = spark.read.parquet(s"$outDir/ods_fact")
    assert(fact.count() === 2 * 5857L)
    assert(Seq("ma_50", "ma_200", "last", "mo").forall(fact.columns.contains))
  }

  test("invariant 1: Spread(d) = price(d,mo=3) - price(d,mo=2), every 2020 date") {
    val ny = csvOut("ny_prices")
    val p = ny.groupBy($"date_actual")
      .agg(max(when($"mo" === 3, $"ny_price")).as("p3"),
        max(when($"mo" === 2, $"ny_price")).as("p2"))
    val sp = csvOut("spread")
    val bad = sp.join(p, Seq("date_actual"))
      .filter(abs($"spread_max_min" - ($"p3" - $"p2")) > 1e-9).count()
    assert(bad === 0L)
    // the synthesized second month carries exactly +2.0 — the spread
    // must reproduce it exactly on every date
    assert(sp.filter(abs($"spread_max_min" - 2.0) > 1e-9).count() === 0L)
    assert(sp.count() === ny.count() / 2)
  }

  test("invariant 2: MA extract's NY-price column = mo=2 price series") {
    val mo2 = csvOut("ny_prices").filter($"mo" === 2)
      .select($"date_actual", $"ny_price")
    val ma = csvOut("ma")
    assert(ma.count() === mo2.count())
    val bad = ma.join(mo2, Seq("date_actual"))
      .filter(abs(col("NY price") - $"ny_price") > 1e-9).count()
    assert(bad === 0L)
  }

  test("invariant 3: MA frames are 51/201 physical rows (recomputed on the fact)") {
    import org.apache.spark.sql.expressions.Window
    val fact = spark.read.parquet(s"$outDir/ods_fact")
      .filter($"mo".cast("int") === 2)
      .select($"date_actual", $"last".cast("double").as("px"),
        $"ma_50", $"ma_200")
    val w = Window.orderBy($"date_actual")
    val re = fact.select($"date_actual", $"ma_50", $"ma_200",
      avg($"px").over(w.rowsBetween(-50, 0)).as("r50"),
      avg($"px").over(w.rowsBetween(-200, 0)).as("r200"))
    val bad = re.filter(abs($"ma_50" - $"r50") > 1e-6 ||
      abs($"ma_200" - $"r200") > 1e-6).count()
    assert(bad === 0L)
  }

  test("audit log: both runs reconciled and logged") {
    val audit = spark.read.parquet(s"$outDir/audit")
    assert(audit.count() >= 2L)
  }

  private implicit class Dollar(val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.parts.mkString)
  }
}
