package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema-first readers for the driver test tables
  * (`/root/testdata/<sf>/<name>.parquet`, see /root/repo/TESTDATA.md) and
  * for reference-shaped CSV inputs (see /root/repo/FIXTURES.md §A).
  *
  * The reference declares every schema explicitly in its COPY column lists
  * (reference `ETL Process/ODS.py:41`, `ETL Process/STG.py:94`); this engine
  * does the same with [[StructType]]s so reads never depend on inference.
  * Parquet reads keep the file schema (already typed); CSV reads apply the
  * explicit schema plus the reference's null conventions
  * (`nullValue="null"` — `Data Sample/KC=F.csv` holds literal `null`
  * strings for missing prices).
  *
  * Scale note: all readers return an un-materialized scan; column pruning
  * and predicate pushdown stay available to Catalyst because no action or
  * cache happens here.
  */
object Tables {

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = read(s, d, "lineitem")
  /** `events.ts` has shipped in two physical forms across testdata
    * generations: INT64 TIMESTAMP(NANOS) (Spark 4 refuses it by default,
    * PARQUET_TYPE_ILLEGAL, and the legacy conf surfaces it as a LONG) and
    * plain TIMESTAMP(MICROS) without UTC adjustment (Spark reads it as
    * TIMESTAMP_NTZ). Normalize both to a micros TimestampType column so
    * every downstream operator and oracle sees one shape. The session
    * timezone is pinned to UTC by every entrypoint, so the NTZ→LTZ cast
    * reinterprets identical microsecond values (no wall-clock shift).
    *
    * NOTE: the legacy conf stays set for the session afterwards (it must
    * be active when the scan executes, not just at planning) — any later
    * nanos-parquet read in the same session will also get LONG columns
    * instead of an error. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(s, d, "events")
    import org.apache.spark.sql.functions._
    raw.schema("ts").dataType match {
      case LongType =>
        // epoch-nanos long → micros. Integer division, NOT `/` (which goes
        // through double and loses ~1.6% of microsecond values for epoch
        // nanos > 2^53). `div` truncates toward zero — identical to floor
        // only for POSITIVE (post-1970) timestamps, which this ns test
        // data is; pre-epoch nanos would land 1µs high
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other =>
        // a THIRD physical form (INT96? epoch-seconds int32?) must fail
        // HERE with a diagnosis, not downstream as DATATYPE_MISMATCH —
        // the exact episode this normalizer exists to prevent
        sys.error(s"events.ts: unexpected physical type $other in $d — " +
          "extend Tables.events normalization for this testdata generation")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** S2: raw line count of a text source (header included) — the
    * reference's `pd.read_csv(header=None).shape[0]` reconciliation
    * input (`ETL Process/STG.py:86`). */
  def rawLineCount(spark: SparkSession, path: String): Long =
    spark.read.text(path).count()

  /** S7: REST-JSON source — the reference's country-dimension API
    * (`ETL Process/STG.py:329-351`) returns `{"value": [ {...}, ... ]}`;
    * read the document, explode the `value` array, flatten the fields. */
  def readRestJson(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.option("multiLine", "true").json(path)
      .select(explode(col("value")).as("v"))
      .select(col("v.*"))
  }

  /** S6: the reference's two physical databases (STG + ODS,
    * `ETL Process/ODS.py:19-26`) as Spark SQL databases. */
  def ensureDatabases(spark: SparkSession, dbs: Seq[String] = Seq("stg", "ods")): Unit =
    dbs.foreach(db => spark.sql(s"CREATE DATABASE IF NOT EXISTS $db"))

  // --------------------------------------------------------------------
  // Reference-shaped schemas (golden-parity substrate, FIXTURES.md §A)
  // --------------------------------------------------------------------

  /** Daily OHLCV, shape of reference `Data Sample/KC=F.csv:1`. */
  val ohlcvSchema: StructType = StructType(Seq(
    StructField("Date", DateType),
    StructField("Open", DoubleType),
    StructField("High", DoubleType),
    StructField("Low", DoubleType),
    StructField("Close", DoubleType),
    StructField("Adj Close", DoubleType),
    StructField("Volume", LongType)))

  /** Read an OHLCV CSV with the reference's conventions: header row,
    * literal `null` for missing values (S1 in SURVEY.md §2.1). */
  def readOhlcvCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("nullValue", "null")
      .schema(ohlcvSchema)
      .csv(path)

  /** Per-contract quote snapshot, shape of the select list at reference
    * `ETL Process/ODS.py:60-78`. `mo` and `last` are deliberately text —
    * the reference stores them as text and casts in-query
    * (`ETL Process/ODS.py:65-67`). */
  val stgBarchartSchema: StructType = StructType(Seq(
    StructField("contract", StringType),
    StructField("timing", StringType),
    StructField("mo", StringType),
    StructField("change", StringType),
    StructField("prev_open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("prev", DoubleType),
    StructField("last", StringType),
    StructField("volume", LongType),
    StructField("oi", LongType),
    StructField("snapshot_date", DateType)))

  /** Date dimension shape (reference `ETL Process/ODS.py:57`). */
  val dimDateSchema: StructType = StructType(Seq(
    StructField("date_id", IntegerType),
    StructField("date_actual", DateType)))

  /** Contract dimension shape (reference `ETL Process/ODS.py:58`). */
  val dimContractSchema: StructType = StructType(Seq(
    StructField("contract_id", IntegerType),
    StructField("contract_code", StringType)))

  /** Wide weekly COT positions (unpivot source, FIXTURES.md §A5). */
  val cotReportSchema: StructType = StructType(Seq(
    StructField("date_actual", DateType),
    StructField("com_long", LongType),
    StructField("com_short", LongType),
    StructField("index_long", LongType),
    StructField("index_short", LongType),
    StructField("ncom_long", LongType),
    StructField("ncom_short", LongType),
    StructField("nrep_long", LongType),
    StructField("nrep_short", LongType)))
}
