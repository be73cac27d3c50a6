package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale techniques as first-class operators (the 100 TB toolkit the
  * survey's §4 maps to Catalyst): key-salting for skewed aggregations,
  * bucketed co-located joins, and dynamic partition overwrite for
  * incremental loads. Each has a spec proving the semantic equivalence
  * (salting), the absent exchange (bucketing), or the untouched sibling
  * partitions (dynamic overwrite).
  */
object Scale {

  /** Two-phase salted aggregation: when one group key carries a large
    * share of all rows, a plain groupBy sends that share to one reducer.
    * Phase 1 aggregates (key, salt) — the hot key spreads over `salts`
    * reducers; phase 2 merges the partials per key. Works for any
    * algebraic aggregate; exposed for sum/count here.
    *
    * AQE's skew-join handling covers JOIN skew at runtime; aggregation
    * skew still needs this explicit rewrite. */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
      salts: Int): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(salts)))
    salted
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(col(key))
      .agg(sum(col("__psum")).as(s"sum_$valueCol"),
        sum(col("__pcnt")).as("n_rows"))
  }

  /** Write both sides bucketed by the join key: subsequent joins between
    * the bucketed tables are exchange-free (bucket-local sort-merge) —
    * the co-located-join layout for fact-fact joins repeated across a
    * pipeline. `saveAsTable` is required (bucket metadata lives in the
    * catalog). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Dynamic partition overwrite: rewrite ONLY the partitions present in
    * `df`, leaving sibling partitions intact — the incremental-load path
    * the reference approximated with commented last-2-months predicates
    * (`ETL Process/ODS.py:38,80-81`) plus delete-and-reload. */
  def overwritePartitions(spark: SparkSession, df: DataFrame, table: String,
      partitionCol: String): Unit = {
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // insertInto matches columns POSITIONALLY — re-project to the
    // table's schema order (partition column included) so a caller's
    // column order can't scramble values
    val ordered = df.select(spark.table(table).columns.map(col): _*)
    try ordered.write.mode("overwrite").insertInto(table)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Create the partitioned target for [[overwritePartitions]]. */
  def writePartitioned(df: DataFrame, table: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).saveAsTable(table)

  /** Path-based hive-layout partitioned write (`col=value/` dirs).
    * The input is repartitioned BY THE PARTITION COLUMN first — the
    * standard production pattern: without it every write task emits a
    * file into every partition directory (tasks × partitions small
    * files); with it each directory receives ~one file. */
  def writePartitionedPath(df: DataFrame, path: String,
      partitionCol: String): Unit =
    df.repartition(col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** q193: driver-oracled partitioned-layout ROUND TRIP — the layout
    * layer (hive-style partition dirs, partition-pruned scans) was
    * ScaleSpec-proven only through round 9 because it is a write op;
    * this puts it behind a driver hash: orders are written
    * month-partitioned to a run-private path via
    * [[writePartitionedPath]], read BACK through a partition filter
    * (the scan's PartitionFilters prune to 6 of ~80 directories —
    * listing-time pruning, no data files of other months touched),
    * and the per-month census is hash-checked against the oracle
    * computing the same aggregate from the ORIGINAL table — a green
    * row proves the layout round trip loses/duplicates/corrupts
    * nothing in the surviving partitions.
    *
    * Determinism: the month key crosses engines as a string
    * (temporal rule 4; partition values are strings on disk and
    * "1995-01" defeats partition-type inference), counts are exact,
    * the money sum rides the cent grid (rule 2) — parquet round-trips
    * doubles bit-exactly, so re-read values grid identically.
    *
    * Scale: one shuffle by the partition key sizes the write at ~one
    * file per directory; the read is partition-pruned at file-listing
    * time. */
  def q193PartitionedRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Relational.moneySum
    val path = graft.util.Scratch.dir("part_q193", dir)
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
    writePartitionedPath(orders, path, "month")
    spark.read.parquet(path)
      .filter(col("month") >= "1995-01" && col("month") <= "1995-06")
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_custs"),
        moneySum(col("o_totalprice")).as("total_price"))
      .orderBy(col("month"))
  }

  /** q198: driver-oracled bucketed co-located join ROUND TRIP — the
    * other layout layer (bucket files + catalog metadata) behind
    * repeated fact-fact joins, spec-proven exchange-free since round
    * 3 and now behind a driver hash: orders and lineitem are written
    * bucketed by the join key to run-private external tables (8
    * buckets, bucket-local sort), joined back WITHOUT an exchange on
    * the join key (the ScaleSpec plan gate), and the per-band census
    * is hashed against the oracle joining the ORIGINAL tables — a
    * green row proves the bucket layout loses/duplicates nothing
    * across the write→catalog→bucket-local-join round trip.
    *
    * Determinism: the band key is integer modulo on non-negative
    * keys; quantities are integral doubles (exact order-independent
    * sums, the q64 rule); revenue rides the cent grid (rule 2).
    *
    * Scale: this is THE repeated-join layout — both sides cluster by
    * the join key at write time, so every subsequent join on it is
    * bucket-local (no exchange, no sort at 8×); the post-join census
    * aggregates onto a bounded 10-band axis. */
  def q198BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Relational.moneySum
    val base = graft.util.Scratch.dir("bq198", dir)
    val db = "graft_q198"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$base/db'")
    def writeB(df: DataFrame, tname: String, key: String): String = {
      val full = s"$db.$tname"
      spark.sql(s"DROP TABLE IF EXISTS $full")
      new scala.reflect.io.Directory(
        new java.io.File(s"$base/$tname")).deleteRecursively()
      df.write.mode("overwrite").option("path", s"$base/$tname")
        .bucketBy(8, key).sortBy(key).saveAsTable(full)
      full
    }
    val o = writeB(graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey")), "b_orders", "o_orderkey")
    val l = writeB(graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
      "b_lineitem", "l_orderkey")
    spark.table(l)
      .join(spark.table(o), col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_orderkey") % 10).as("band"))
      .agg(count(lit(1)).as("n_li"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        sum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("band"))
  }

  val q198BucketedJoinSql: String =
    """SELECT o.o_orderkey % 10 AS band,
      |  CAST(count(*) AS BIGINT) AS n_li,
      |  CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
      |  sum(l.l_quantity) AS sum_qty,
      |  sum(floor(l.l_extendedprice * 100.0 + 0.5)) / 100.0 AS revenue
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1 ORDER BY band""".stripMargin

  val q193PartitionedReadSql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
      |  sum(floor(o_totalprice * 100.0 + 0.5)) / 100.0 AS total_price
      |FROM orders
      |WHERE strftime(o_orderdate, '%Y-%m') >= '1995-01'
      |  AND strftime(o_orderdate, '%Y-%m') <= '1995-06'
      |GROUP BY 1 ORDER BY month""".stripMargin

  /** q267: driver-oracled SCHEMA-EVOLUTION round trip — the third
    * layout-layer proof beside q193 (partition dirs) and q198
    * (buckets): a long-lived lakehouse table accretes columns, so old
    * parquet files lack columns newer files carry. Generation 1
    * (orders before 1998) is written WITHOUT the `o_band` column;
    * generation 2 (the rest) WITH it; the table is read back through
    * `mergeSchema` (footer-schema union — the evolution read path)
    * and censused per generation. A green row proves the merged read
    * loses/duplicates nothing across generations AND that every
    * generation-1 row surfaces the evolved column as NULL (never a
    * default, never a crash) — the contract downstream queries rely
    * on after every ALTER TABLE ADD COLUMN.
    *
    * Determinism: the generation cut crosses engines as a string
    * date (temporal rule 4); band sums are exact integers; money
    * rides the cent grid (parquet round-trips doubles bit-exactly).
    *
    * Scale: schema merging reads FOOTERS, not data (one listing
    * pass); the census is one scan of both generations with the
    * evolved column pruned into the gen-2 files only. */
  def q267SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Relational.moneySum
    // Corpus-keyed, exit-cleaned scratch (round-11 advice): deleting
    // before JVM exit would break the laziness contract of the
    // returned plan, and a shared path across corpora would let a held
    // plan silently read the other corpus's files.
    val path = graft.util.Scratch.dir("schevo_q267", dir)
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))
    orders.filter(col("od") < "1998-01-01")
      .select(lit(1L).as("gen"), col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$path/g1")
    orders.filter(col("od") >= "1998-01-01")
      .select(lit(2L).as("gen"), col("o_orderkey"), col("o_totalprice"),
        (col("o_orderkey") % 4).as("o_band"))
      .write.mode("overwrite").parquet(s"$path/g2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$path/g1", s"$path/g2")
      .groupBy(col("gen"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_band").isNull.cast("long")).as("n_band_null"),
        sum(col("o_band")).as("sum_band"),
        moneySum(col("o_totalprice")).as("total_price"))
      .orderBy(col("gen"))
  }

  val q267SchemaEvolutionSql: String =
    """WITH g AS (SELECT
      |    CASE WHEN strftime(o_orderdate, '%Y-%m-%d') < '1998-01-01'
      |      THEN 1 ELSE 2 END AS gen,
      |    o_orderkey, o_totalprice,
      |    CASE WHEN strftime(o_orderdate, '%Y-%m-%d') >= '1998-01-01'
      |      THEN o_orderkey % 4 END AS o_band
      |  FROM orders)
      |SELECT CAST(gen AS BIGINT) AS gen,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CASE WHEN o_band IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_band_null,
      |  CAST(sum(o_band) AS BIGINT) AS sum_band,
      |  sum(floor(o_totalprice * 100.0 + 0.5)) / 100.0 AS total_price
      |FROM g GROUP BY 1 ORDER BY gen""".stripMargin

  /** q268: Z-ORDER data-clustering layout key — the multi-dimensional
    * locality layer beside q193's 1-D partition dirs: orders keyed by
    * the native `zorder2(o_custkey, epoch_day)` Morton interleave
    * (graft.functions.ZOrder2, codegen'd — a UDF would box every
    * row), censused per 2^22-wide key range. The z-property is the
    * whole point and the census EXHIBITS it: inside one bucket the
    * key varies only in its low 22 bits, so EACH dimension varies
    * only in its low 11 — cust_span and day_span are both < 2^11 =
    * 2048 in every row (EngineSpec asserts it; no 1-D sort order can
    * bound both). A lakehouse writes files in z-key ranges so a scan
    * filtered on EITHER dimension prunes files — the Delta/Iceberg
    * Z-ORDER OPTIMIZE recipe.
    *
    * Determinism: pure bit arithmetic, one generator for both
    * engines; inputs raise_error-guarded into the 31-bit window
    * (masking would silently alias far-apart keys).
    *
    * Scale: the key is a scan-level expression (no shuffle to
    * compute); the census one map-side-combinable aggregate onto the
    * bounded key-range axis. */
  def q268ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ZOrder
    val lim = 1L << graft.functions.ZOrderImpl.Bits
    def guard(c: Column, tag: String): Column =
      when(c < 0L || c >= lim, raise_error(concat(
        lit(s"q268: $tag outside the 31-bit z-window: "), c))).otherwise(c)
    graft.sources.Tables.orders(spark, dir)
      .select(
        guard(col("o_custkey"), "o_custkey").as("ck"),
        guard(datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"),
          "epoch_day").as("d"))
      .select(ZOrder.zorder2(col("ck"), col("d")).as("zkey"),
        col("ck"), col("d"))
      .groupBy(expr(s"zkey div ${1L << 22}").as("zbucket"))
      .agg(count(lit(1)).as("n_orders"),
        (max(col("ck")) - min(col("ck"))).as("cust_span"),
        (max(col("d")) - min(col("d"))).as("day_span"),
        min(col("ck")).as("min_cust"), min(col("d")).as("min_day"))
      .orderBy(col("zbucket"))
  }

  val q268ZorderLayoutSql: String = {
    val z = graft.functions.ZOrder.sqlExpr("o_custkey",
      "date_diff('day', DATE '1970-01-01', o_orderdate)")
    s"""WITH zk AS (SELECT $z AS zkey, o_custkey AS ck,
       |    date_diff('day', DATE '1970-01-01', o_orderdate) AS d
       |  FROM orders)
       |SELECT zkey // ${1L << 22} AS zbucket,
       |  CAST(count(*) AS BIGINT) AS n_orders,
       |  CAST(max(ck) - min(ck) AS BIGINT) AS cust_span,
       |  CAST(max(d) - min(d) AS BIGINT) AS day_span,
       |  CAST(min(ck) AS BIGINT) AS min_cust,
       |  CAST(min(d) AS BIGINT) AS min_day
       |FROM zk GROUP BY 1 ORDER BY zbucket""".stripMargin
  }
}
