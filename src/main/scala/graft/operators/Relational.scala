package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.Tables
import graft.util.Blocks

import graft.syntax._

/** The relational operator pack: every parity operator family from
  * SURVEY.md §2 (scans, projections/filters, joins, aggregations, windows,
  * sorts/sets/scalars) exercised as a named query over the driver test
  * tables. Each query here has a matching ANSI-SQL oracle in
  * [[graft.SparkEntry.oracleSql]] executed by DuckDB on the same parquet.
  *
  * Determinism discipline (so Spark and DuckDB hash identically):
  *  - every query ends in an ORDER BY over a unique key set; window ORDER
  *    BYs always carry a unique tie-break (`lineitem`'s unique composite is
  *    (l_orderkey, l_linenumber, l_partkey, l_suppkey) — verified at
  *    sf0.01 and sf0.1; (orderkey, linenumber) alone is NOT unique);
  *  - no native `round()` on doubles — Spark rounds HALF_UP, DuckDB
  *    half-even; instead [[stableRound]] = `floor(x*10^p + 0.5)/10^p`,
  *    pure IEEE ops, bit-identical in both engines;
  *  - no floating SUM over non-grid doubles — summation order differs
  *    between engines (ulp drift can cross a rounding boundary); instead
  *    [[moneySum]] floors each row to an integer cent grid first, so sums
  *    are order-independent exact integers.
  *
  * Scale discipline (local[32] now, 1000 executors later):
  *  - dimension joins (`nation`, `region`, `customer`, `supplier`, `part`)
  *    are explicitly `broadcast()` — no shuffle for the dim side at any SF;
  *  - fact-fact joins (`lineitem` ⋈ `orders`) shuffle on the join key only
  *    once; AQE re-plans skew at runtime;
  *  - aggregates are single `groupBy.agg` so Catalyst plans partial
  *    (map-side) aggregation before the exchange;
  *  - filters/projections sit directly over the scan so they push into the
  *    parquet reader (`.explain`: `PushedFilters`, pruned `ReadSchema`);
  *  - top-k is `orderBy.limit` → `TakeOrderedAndProject`, never a full
  *    global sort.
  */
object Relational {

  /** date-of-timestamp as a plain string — identical text in Spark and
    * DuckDB, the safest hashable form for temporal keys. */
  private def dstr(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** Round-half-up in raw IEEE ops; bit-identical across engines. */
  private[graft] def stableRound(c: Column, p: Int): Column = {
    val s = math.pow(10, p)
    floor(c * s + 0.5) / s
  }

  /** Order-independent money sum: floor each row to integer cents, sum
    * (exact for |sum| < 2^53), rescale. */
  private[graft] def moneySum(c: Column): Column =
    sum(floor(c * 100.0 + 0.5)) / 100.0

  /** DuckDB-side text of [[stableRound]] / [[moneySum]]. */
  private[graft] def sqlRound(e: String, p: Int): String =
    s"floor(($e) * 1e$p + 0.5) / 1e$p"
  private[graft] def sqlMoneySum(e: String): String =
    s"sum(floor(($e) * 100.0 + 0.5)) / 100.0"

  // =====================================================================
  // Aggregations (SURVEY §2.4: A1 count, A2 spread, A3 totals, A4 derived)
  // =====================================================================

  /** TPC-H-Q1-style pricing summary: map-side partial agg → single shuffle
    * on (returnflag, linestatus): 6 groups at any scale. */
  def q1Agg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"),
        moneySum($"l_extendedprice").as("sum_base_price"),
        moneySum($"l_extendedprice" * (lit(1) - $"l_discount")).as("sum_disc_price"),
        stableRound(avg($"l_quantity"), 4).as("avg_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag", $"l_linestatus")

  val q1AggSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  sum(l_quantity) AS sum_qty,
       |  ${sqlMoneySum("l_extendedprice")} AS sum_base_price,
       |  ${sqlMoneySum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       |  ${sqlRound("avg(l_quantity)", 4)} AS avg_qty,
       |  count(*) AS n_rows
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** A2's max-min spread per date key (reference `Data Processed/Spead.csv`
    * semantics: Spread = max(price) - min(price) within the day). max/min
    * pick exact stored doubles — no FP-order sensitivity. */
  def q10SpreadAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      // group on the native day-precision timestamp; render the string
      // key AFTER aggregation (2.5k rows), not per input row (600k)
      .groupBy($"l_shipdate")
      .agg(
        stableRound(max($"l_extendedprice") - min($"l_extendedprice"), 2).as("spread_max_min"),
        count(lit(1)).as("n_rows"))
      .select(dstr($"l_shipdate").as("ship_date"), $"spread_max_min", $"n_rows")
      .orderBy($"ship_date")

  val q10SpreadAggSql: String =
    s"""SELECT strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
       |  ${sqlRound("max(l_extendedprice) - min(l_extendedprice)", 2)} AS spread_max_min,
       |  count(*) AS n_rows
       |FROM lineitem
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // =====================================================================
  // Projections / filters (SURVEY §2.2) — pushdown-friendly
  // =====================================================================

  /** Filter + projection + derived measure (A4's net = f(cols)). The
    * filter and the projection both reach the parquet scan. Row-level
    * arithmetic is identical IEEE in both engines. */
  def q2FilterProject(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter($"l_returnflag" === "R" && $"l_discount" > 0.05)
      .select(
        $"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
        stableRound($"l_extendedprice" * (lit(1) - $"l_discount"), 4).as("net_price"),
        stableRound($"l_extendedprice" * $"l_tax", 4).as("tax_amt"))
      .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")

  val q2FilterProjectSql: String =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |  ${sqlRound("l_extendedprice * (1 - l_discount)", 4)} AS net_price,
       |  ${sqlRound("l_extendedprice * l_tax", 4)} AS tax_amt
       |FROM lineitem
       |WHERE l_returnflag = 'R' AND l_discount > 0.05
       |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  // =====================================================================
  // Joins (SURVEY §2.3: J1/J2 dim lookup, J3 role-play, J4 anti, J5 equi)
  // =====================================================================

  /** Star join: fact ⋈ fact on the order key (one shuffle), then the
    * customer→nation→region dimension arm entirely via broadcast. */
  def q3StarJoin(s: SparkSession, d: String): DataFrame = {
    val li  = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    val cus = Tables.customer(s, d)
    val nat = Tables.nation(s, d)
    val reg = Tables.region(s, d)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cus), $"o_custkey" === $"c_custkey")
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", year($"o_orderdate").as("order_year"))
      .agg(
        moneySum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"r_name", $"order_year")
  }

  val q3StarJoinSql: String =
    s"""SELECT r_name, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
       |  ${sqlMoneySum("l_extendedprice * (1 - l_discount)")} AS revenue,
       |  count(*) AS n_items
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |GROUP BY r_name, order_year
       |ORDER BY r_name, order_year""".stripMargin

  /** J1/J2 surrogate-key left join with O15's NULL→'NaN' sentinel
    * (reference `ETL Process/ODS.py:62,107`). */
  def q4DimLookup(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
    val cus = Tables.customer(s, d)
      .select($"c_custkey", $"c_name", $"c_mktsegment")
    ord.join(broadcast(cus), $"o_custkey" === $"c_custkey", "left")
      .select(
        $"o_orderkey",
        coalesce($"c_name", lit("NaN")).as("customer_name"),
        coalesce($"c_mktsegment", lit("NaN")).as("segment"),
        stableRound($"o_totalprice", 2).as("total_price"))
      .orderBy($"o_orderkey")
  }

  val q4DimLookupSql: String =
    s"""SELECT o_orderkey,
       |  coalesce(c_name, 'NaN') AS customer_name,
       |  coalesce(c_mktsegment, 'NaN') AS segment,
       |  ${sqlRound("o_totalprice", 2)} AS total_price
       |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
       |ORDER BY o_orderkey""".stripMargin

  /** J3 role-playing dimension: `nation` joined twice under two roles
    * (customer-nation and supplier-nation), like the reference's contract
    * dim joined as contract and prev_contract (`ETL Process/ODS.py:103-108`). */
  def q5RoleplayJoin(s: SparkSession, d: String): DataFrame = {
    val li  = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    val cus = Tables.customer(s, d)
    val sup = Tables.supplier(s, d)
    val natC = Tables.nation(s, d)
      .select($"n_nationkey".as("cust_nationkey"), $"n_name".as("cust_nation"))
    val natS = Tables.nation(s, d)
      .select($"n_nationkey".as("supp_nationkey"), $"n_name".as("supp_nation"))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cus), $"o_custkey" === $"c_custkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(natC), $"c_nationkey" === $"cust_nationkey")
      .join(broadcast(natS), $"s_nationkey" === $"supp_nationkey")
      .groupBy($"cust_nation", $"supp_nation")
      .agg(
        moneySum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"cust_nation", $"supp_nation")
  }

  val q5RoleplayJoinSql: String =
    s"""SELECT nc.n_name AS cust_nation, ns.n_name AS supp_nation,
       |  ${sqlMoneySum("l_extendedprice * (1 - l_discount)")} AS revenue,
       |  count(*) AS n_items
       |FROM lineitem
       |JOIN orders    ON l_orderkey = o_orderkey
       |JOIN customer  ON o_custkey = c_custkey
       |JOIN supplier  ON l_suppkey = s_suppkey
       |JOIN nation nc ON c_nationkey = nc.n_nationkey
       |JOIN nation ns ON s_nationkey = ns.n_nationkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** J4's anti-join (the reference's DELETE WHERE EXISTS upsert core,
    * `ETL Process/STG.py:102-110`): customers with no high-value order.
    * (Filtered right side keeps the result non-empty at every SF — all
    * customers have *some* order; threshold 300k sits above the minimum
    * per-customer max at sf0.001 (202,734) and below the global max.) */
  def q6AntiJoin(s: SparkSession, d: String): DataFrame = {
    val cus = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
      .filter($"o_totalprice" > 300000.0).select($"o_custkey")
    cus.join(ord, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val q6AntiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Semi-join complement of q6 (EXISTS): customers with ≥1 order,
    * counted per segment. */
  def q6bSemiJoin(s: SparkSession, d: String): DataFrame = {
    val cus = Tables.customer(s, d)
    val ord = Tables.orders(s, d).select($"o_custkey")
    cus.join(ord, $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"), moneySum($"c_acctbal").as("sum_bal"))
      .orderBy($"c_mktsegment")
  }

  val q6bSemiJoinSql: String =
    s"""SELECT c_mktsegment, count(*) AS n_customers,
       |  ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer c
       |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // =====================================================================
  // Windows (SURVEY §2.5: W1-W5)
  // =====================================================================

  /** W1/W2: lead of key and price over (customer, order-date) with the
    * reference's coalesce-to-'NaN' string sentinel
    * (`ETL Process/ODS.py:62-64`). Unique tie-break: o_orderkey. */
  def q7WindowLead(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(s, d)
      .select(
        $"o_custkey", $"o_orderkey", dstr($"o_orderdate").as("order_date"),
        coalesce(lead($"o_orderkey", 1).over(w).cast("string"), lit("NaN")).as("next_order"),
        stableRound(lag($"o_totalprice", 1).over(w), 2).as("prev_total"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q7WindowLeadSql: String =
    s"""SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       |  coalesce(CAST(lead(o_orderkey, 1) OVER w AS VARCHAR), 'NaN') AS next_order,
       |  ${sqlRound("lag(o_totalprice, 1) OVER w", 2)} AS prev_total
       |FROM orders
       |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** W4/W5: the 51-row / 201-row ROWS-frame moving averages
    * (`ETL Process/ODS.py:66-67`), partitioned by supplier, ordered by the
    * unique (shipdate, orderkey, linenumber, partkey) quadruple. ROWS
    * (physical) frames with ramp-up at partition start — exactly the
    * reference's frame semantics. The averaged measure is floored to the
    * integer grid first so the frame sum is order-independent-exact and
    * the engines agree bit-for-bit (DuckDB computes window sums via
    * segment trees — a different summation order than Spark's running
    * frame buffer). */
  def q8WindowMa(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_partkey")
    val px = floor($"l_extendedprice" + 0.5)
    Tables.lineitem(s, d)
      .select(
        $"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_partkey",
        stableRound(avg(px).over(w.rowsBetween(-50, 0)), 4).as("ma_50"),
        stableRound(avg(px).over(w.rowsBetween(-200, 0)), 4).as("ma_200"))
      .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_partkey")
  }

  val q8WindowMaSql: String =
    s"""SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey,
       |  ${sqlRound("avg(floor(l_extendedprice + 0.5)) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey ROWS BETWEEN 50 PRECEDING AND CURRENT ROW)", 4)} AS ma_50,
       |  ${sqlRound("avg(floor(l_extendedprice + 0.5)) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey ROWS BETWEEN 200 PRECEDING AND CURRENT ROW)", 4)} AS ma_200
       |FROM lineitem
       |ORDER BY l_suppkey, l_orderkey, l_linenumber, l_partkey""".stripMargin

  /** W3: adjacent-rank difference within a partition, ordered DESC — the
    * reference's inter-contract calendar spread (`ETL Process/ODS.py:65`):
    * partition by date-analog (order), order by month-analog descending,
    * diff to neighbor, round(2). Unique DESC order via the composite key. */
  def q9WindowSpread(s: SparkSession, d: String): DataFrame = {
    // l_extendedprice as the final tie-break: the composite
    // (l_orderkey, l_linenumber, l_partkey, l_suppkey) has ONE
    // duplicated tuple at sf0.001 (found by q217's uniqueness
    // contract) whose two rows differ in price — without the price
    // tie-break their lag order is engine-dependent; with it, any
    // remaining tie has equal price, for which lag(price) is
    // order-invariant
    val w = Window.partitionBy($"l_orderkey")
      .orderBy($"l_linenumber".desc, $"l_partkey".desc, $"l_suppkey".desc,
        $"l_extendedprice".desc)
    Tables.lineitem(s, d)
      .select(
        $"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
        stableRound($"l_extendedprice" - lag($"l_extendedprice", 1).over(w), 2).as("spread"))
      .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
  }

  val q9WindowSpreadSql: String =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |  ${sqlRound("l_extendedprice - lag(l_extendedprice, 1) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber DESC, l_partkey DESC, l_suppkey DESC, l_extendedprice DESC)", 2)} AS spread
       |FROM lineitem
       |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  // =====================================================================
  // Set ops / unpivot / sorts / scalars (SURVEY §2.6)
  // =====================================================================

  /** O16 unpivot (the COT wide→long reshape) via `stack`, then aggregated
    * per measure. Shorts-negation analog: discount is negated on unpivot.
    * Discount values live on a 1e-2 grid → scale-100 floor keeps the sum
    * exact. */
  def q11Unpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select($"l_orderkey", expr(
        "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice, " +
          "'discount', -l_discount) AS (measure, value)"))
      .groupBy($"measure")
      .agg(moneySum($"value").as("sum_value"), count(lit(1)).as("n_rows"))
      .orderBy($"measure")

  val q11UnpivotSql: String =
    s"""SELECT measure, ${sqlMoneySum("value")} AS sum_value, count(*) AS n_rows
       |FROM (
       |  SELECT 'quantity' AS measure, l_quantity AS value FROM lineitem
       |  UNION ALL
       |  SELECT 'extendedprice', l_extendedprice FROM lineitem
       |  UNION ALL
       |  SELECT 'discount', -l_discount FROM lineitem
       |)
       |GROUP BY measure ORDER BY measure""".stripMargin

  /** A5/O3 UNION ALL of two tagged branches (P10 literal columns), then
    * re-aggregated — the reference's per-page concat. */
  def q13Union(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
    val hi = ord.filter($"o_totalprice" >= 100000.0)
      .select($"o_orderstatus", lit("high").as("bucket"), $"o_totalprice")
    val lo = ord.filter($"o_totalprice" < 100000.0)
      .select($"o_orderstatus", lit("low").as("bucket"), $"o_totalprice")
    hi.unionByName(lo)
      .groupBy($"o_orderstatus", $"bucket")
      .agg(count(lit(1)).as("n_orders"), moneySum($"o_totalprice").as("sum_total"))
      .orderBy($"o_orderstatus", $"bucket")
  }

  val q13UnionSql: String =
    s"""SELECT o_orderstatus, bucket, count(*) AS n_orders,
       |  ${sqlMoneySum("o_totalprice")} AS sum_total
       |FROM (
       |  SELECT o_orderstatus, 'high' AS bucket, o_totalprice FROM orders
       |    WHERE o_totalprice >= 100000.0
       |  UNION ALL
       |  SELECT o_orderstatus, 'low' AS bucket, o_totalprice FROM orders
       |    WHERE o_totalprice < 100000.0
       |)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** O4-O8 string surgery on part names: lower, split-first-token,
    * substring, contains, global regex replace (P6's separator strip
    * analog). */
  def q14Strings(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        $"p_partkey",
        lower($"p_name").as("name_lower"),
        split($"p_name", " ").getItem(0).as("first_token"),
        substring($"p_name", 1, 7).as("name_prefix"),
        when(instr($"p_name", "a") > 0, lit(1)).otherwise(lit(0)).as("has_a"),
        regexp_replace($"p_name", "[aeiou]", "").as("no_vowels"))
      .orderBy($"p_partkey")

  val q14StringsSql: String =
    """SELECT p_partkey,
      |  lower(p_name) AS name_lower,
      |  split_part(p_name, ' ', 1) AS first_token,
      |  substring(p_name, 1, 7) AS name_prefix,
      |  CASE WHEN strpos(p_name, 'a') > 0 THEN 1 ELSE 0 END AS has_a,
      |  regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels
      |FROM part ORDER BY p_partkey""".stripMargin

  /** O10-O12 date functions: format, year/month extraction — the
    * reference's incremental-load predicate family
    * (`ETL Process/ODS.py:38,80-81`). */
  def q15Datetime(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(date_trunc("month", $"o_orderdate").as("m"))
      .agg(count(lit(1)).as("n_orders"), moneySum($"o_totalprice").as("sum_total"))
      .select(
        date_format($"m", "yyyy-MM").as("order_month"),
        month($"m").as("month_num"), $"n_orders", $"sum_total")
      .orderBy($"order_month")

  val q15DatetimeSql: String =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
       |  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS month_num,
       |  count(*) AS n_orders, ${sqlMoneySum("o_totalprice")} AS sum_total
       |FROM orders GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** O1/O2 global sort + top-k limit (unique tie-break on the key). Spark
    * plans this as TakeOrderedAndProject — per-partition heaps, no full
    * sort, no skew risk at scale. */
  def q16TopK(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select($"o_orderkey", stableRound($"o_totalprice", 2).as("total_price"), $"o_orderstatus")
      .orderBy($"total_price".desc, $"o_orderkey")
      .limit(100)

  val q16TopKSql: String =
    s"""SELECT o_orderkey, ${sqlRound("o_totalprice", 2)} AS total_price, o_orderstatus
       |FROM orders ORDER BY total_price DESC, o_orderkey LIMIT 100""".stripMargin

  /** Grouping-set extension: CUBE over two independent dimensions (all
    * 2^2 grouping combinations), NULL keys coalesced to a sentinel. */
  def q17Cube(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
    val cus = Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")
    ord.join(broadcast(cus), $"o_custkey" === $"c_custkey")
      .cube($"c_mktsegment", $"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), moneySum($"o_totalprice").as("sum_total"))
      .select(
        coalesce($"c_mktsegment", lit("ALL")).as("segment"),
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        $"n_orders", $"sum_total")
      .orderBy($"segment", $"status")
  }

  val q17CubeSql: String =
    s"""SELECT coalesce(c_mktsegment, 'ALL') AS segment,
       |  coalesce(o_orderstatus, 'ALL') AS status,
       |  count(*) AS n_orders, ${sqlMoneySum("o_totalprice")} AS sum_total
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY CUBE (c_mktsegment, o_orderstatus)
       |ORDER BY segment, status""".stripMargin

  /** Sketch extension: approximate distinct (HyperLogLog++) beside the
    * exact count — the cardinality-estimation surface for 100 TB scans
    * where exact distinct is a full shuffle. DuckDB's HLL sketch differs
    * bit-for-bit, so the sketch VALUE can't be hash-compared; instead
    * the query emits `sketch_ok` — the sketch's relative error inside a
    * 10% bound (5σ at rsd = 0.02, and Spark's HLL is deterministic for
    * fixed data) — which the oracle asserts as literal TRUE. The sketch
    * stays in the driver-run plan; the spec additionally checks the
    * tighter 3σ bound. */
  def q19ApproxDistinct(s: SparkSession, d: String): DataFrame =
    // Two-level rewrite of COUNT(DISTINCT): pre-aggregate on the full
    // grouping key so the map side collapses duplicates BEFORE the
    // shuffle (the Expand-based plan Spark picks for a bare
    // countDistinct ships every raw row). The HLL sketch rides the
    // deduplicated relation unchanged — HLL is insert-only, so
    // duplicates never move the estimate.
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag", $"l_partkey")
      .agg(count(lit(1)).as("dup_n"))
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_partkey", 0.02).as("approx_parts"),
        count(lit(1)).as("exact_parts"),
        sum($"dup_n").as("n_rows"))
      .select($"l_returnflag", $"exact_parts", $"n_rows",
        (abs($"approx_parts" - $"exact_parts") <=
          $"exact_parts" * 0.1).as("sketch_ok"))
      .orderBy($"l_returnflag")

  val q19ApproxDistinctSql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS exact_parts,
      |  count(*) AS n_rows,
      |  TRUE AS sketch_ok
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Sketch extension #2: KLL/GK-style approximate percentiles beside
    * the exact ones — the quantile surface a 100 TB scan uses (exact
    * `percentile` buffers every value; `approx_percentile` is a fixed
    *-size mergeable sketch). Like q19, the sketch value itself can't be
    * hash-compared across engines, so the query emits per-quantile
    * error-bound flags the oracle asserts as literal TRUE: the sketch's
    * rank accuracy (1/10000) puts the approx far inside 5% of the exact
    * value at any tested scale, and Spark's sketch is deterministic for
    * fixed data. */
  def q54ApproxQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, array(0.5D, 0.99D))").as("pe"),
        expr("approx_percentile(l_extendedprice, array(0.5D, 0.99D), 10000)").as("pa"),
        count(lit(1)).as("n_rows"))
      .select($"l_returnflag",
        stableRound($"pe".getItem(0), 4).as("p50_exact"),
        stableRound($"pe".getItem(1), 4).as("p99_exact"),
        $"n_rows",
        (abs($"pa".getItem(0) - $"pe".getItem(0)) <=
          abs($"pe".getItem(0)) * 0.05).as("p50_sketch_ok"),
        (abs($"pa".getItem(1) - $"pe".getItem(1)) <=
          abs($"pe".getItem(1)) * 0.05).as("p99_sketch_ok"))
      .orderBy($"l_returnflag")

  val q54ApproxQuantilesSql: String =
    s"""SELECT l_returnflag,
       |  ${sqlRound("quantile_cont(l_extendedprice, 0.5)", 4)} AS p50_exact,
       |  ${sqlRound("quantile_cont(l_extendedprice, 0.99)", 4)} AS p99_exact,
       |  count(*) AS n_rows,
       |  TRUE AS p50_sketch_ok,
       |  TRUE AS p99_sketch_ok
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** SCD type-2 apply over a deterministic update batch: every even
    * customer key gets an update dated 2020-06-01, half of them (key
    * divisible by 4) with a CHANGED segment — those rows close and a new
    * version opens; the same-value updates and the odd keys pass through
    * untouched. The oracle constructs the expected version history
    * directly (closed row + opened row for the %4 keys, original row for
    * the rest) — an independent formulation of the SCD2 contract. Dates
    * travel as strings per the determinism rules. */
  def q56Scd2(s: SparkSession, d: String): DataFrame = {
    val cus = Tables.customer(s, d)
    val current = cus.select(
      $"c_custkey".as("k"), $"c_mktsegment".as("attr"),
      lit("1990-01-01").as("valid_from"),
      lit("9999-12-31").as("valid_to"),
      lit(true).as("is_current"))
    val updates = cus.filter($"c_custkey" % 2 === 0)
      .select(
        $"c_custkey".as("k"),
        when($"c_custkey" % 4 === 0, concat($"c_mktsegment", lit("_V2")))
          .otherwise($"c_mktsegment").as("attr"),
        lit("2020-06-01").as("chg"))
    graft.stg.Staging.scd2Apply(current, updates, "k", "attr", "chg")
      .orderBy($"k", $"valid_from")
  }

  val q56Scd2Sql: String =
    """WITH cur AS (SELECT c_custkey AS k, c_mktsegment AS attr FROM customer)
      |SELECT k, attr, '1990-01-01' AS valid_from,
      |  CASE WHEN k % 4 = 0 THEN '2020-06-01' ELSE '9999-12-31' END AS valid_to,
      |  k % 4 <> 0 AS is_current
      |FROM cur
      |UNION ALL
      |SELECT k, attr || '_V2', '2020-06-01', '9999-12-31', TRUE
      |FROM cur WHERE k % 4 = 0
      |ORDER BY k, valid_from""".stripMargin

  /** Salted aggregation as a driver query: the two-phase
    * [[graft.operators.Scale.saltedSumCount]] rewrite (hot keys spread
    * over salt buckets, partials merged per key) over the fact table.
    * The oracle is the PLAIN group-by — salting must be semantically
    * invisible. Exactness: l_quantity values are whole numbers, so
    * every partial double sum is an exactly-representable integer and
    * the result is order-independent (no float-summation hazard). */
  def q64SaltedAgg(s: SparkSession, d: String): DataFrame =
    graft.operators.Scale.saltedSumCount(
      Tables.lineitem(s, d), "l_returnflag", "l_quantity", salts = 8)
      .select($"l_returnflag", $"sum_l_quantity", $"n_rows")
      .orderBy($"l_returnflag")

  val q64SaltedAggSql: String =
    """SELECT l_returnflag, sum(l_quantity) AS sum_l_quantity,
      |  count(*) AS n_rows
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Key-skew audit: the rows-per-key histogram of the fact table's join
    * key — the diagnostic that decides between a plain shuffle join and
    * salting/AQE skew handling at scale. Two hash aggregations, both
    * map-side combinable. */
  def q57SkewAudit(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("rows_per_key"))
      .groupBy($"rows_per_key")
      .agg(count(lit(1)).as("n_keys"))
      .orderBy($"rows_per_key")

  val q57SkewAuditSql: String =
    """SELECT rows_per_key, count(*) AS n_keys
      |FROM (SELECT count(*) AS rows_per_key FROM lineitem GROUP BY l_orderkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Grouping-set extension: ROLLUP over the region→nation hierarchy with
    * NULL grouping keys coalesced to a sentinel for stable hashing. */
  def q18Rollup(s: SparkSession, d: String): DataFrame = {
    val cus = Tables.customer(s, d)
    val nat = Tables.nation(s, d)
    val reg = Tables.region(s, d)
    cus.join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_customers"), moneySum($"c_acctbal").as("sum_bal"))
      .select(
        coalesce($"r_name", lit("ALL")).as("region_name"),
        coalesce($"n_name", lit("ALL")).as("nation_name"),
        $"n_customers", $"sum_bal")
      .orderBy($"region_name", $"nation_name")
  }

  val q18RollupSql: String =
    s"""SELECT coalesce(r_name, 'ALL') AS region_name,
       |  coalesce(n_name, 'ALL') AS nation_name,
       |  count(*) AS n_customers, ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP (r_name, n_name)
       |ORDER BY region_name, nation_name""".stripMargin

  /** Exact interpolated percentiles (the OLAP quantile surface). Exact —
    * not approx_percentile — so the linear-interpolation arithmetic is
    * bit-identical to DuckDB's quantile_cont on the same sorted values. */
  def q39Quantiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      // one percentile buffer per source column (array form), not one
      // per requested quantile — halves the ObjectHashAggregate work
      .agg(
        expr("percentile(l_quantity, array(0.5D, 0.9D))").as("pq"),
        expr("percentile(l_extendedprice, array(0.5D, 0.99D))").as("pp"),
        count(lit(1)).as("n_rows"))
      .select($"l_returnflag",
        stableRound($"pq".getItem(0), 4).as("p50_qty"),
        stableRound($"pq".getItem(1), 4).as("p90_qty"),
        stableRound($"pp".getItem(0), 4).as("p50_price"),
        stableRound($"pp".getItem(1), 4).as("p99_price"),
        $"n_rows")
      .orderBy($"l_returnflag")

  val q39QuantilesSql: String =
    s"""SELECT l_returnflag,
       |  ${sqlRound("quantile_cont(l_quantity, 0.5)", 4)} AS p50_qty,
       |  ${sqlRound("quantile_cont(l_quantity, 0.9)", 4)} AS p90_qty,
       |  ${sqlRound("quantile_cont(l_extendedprice, 0.5)", 4)} AS p50_price,
       |  ${sqlRound("quantile_cont(l_extendedprice, 0.99)", 4)} AS p99_price,
       |  count(*) AS n_rows
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Ordered string aggregation (listagg): the set of market segments per
    * nation, sorted then joined — deterministic in both engines. */
  def q40StringAgg(s: SparkSession, d: String): DataFrame = {
    val cus = Tables.customer(s, d)
    val nat = Tables.nation(s, d)
    cus.join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        concat_ws(",", array_sort(collect_set($"c_mktsegment"))).as("segments"),
        count(lit(1)).as("n_customers"))
      .orderBy($"n_name")
  }

  val q40StringAggSql: String =
    """SELECT n_name,
      |  string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
      |  count(*) AS n_customers
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Set operators: customers ordering in BOTH years (INTERSECT) and in
    * the first year only (EXCEPT). */
  def q42SetOps(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
    def buyers(y: Int) = ord.filter(year($"o_orderdate") === y).select($"o_custkey")
    val both = buyers(1995).intersect(buyers(1996))
      .select($"o_custkey", lit("both").as("cohort"))
    val only95 = buyers(1995).except(buyers(1996))
      .select($"o_custkey", lit("only_1995").as("cohort"))
    both.unionByName(only95)
      .groupBy($"cohort")
      .agg(count(lit(1)).as("n_customers"), sum($"o_custkey").as("key_sum"))
      .orderBy($"cohort")
  }

  val q42SetOpsSql: String =
    """WITH b95 AS (SELECT DISTINCT o_custkey FROM orders
      |             WHERE EXTRACT(year FROM o_orderdate) = 1995),
      |b96 AS (SELECT DISTINCT o_custkey FROM orders
      |        WHERE EXTRACT(year FROM o_orderdate) = 1996),
      |cohorts AS (
      |  SELECT o_custkey, 'both' AS cohort FROM (SELECT * FROM b95 INTERSECT SELECT * FROM b96)
      |  UNION ALL
      |  SELECT o_custkey, 'only_1995' FROM (SELECT * FROM b95 EXCEPT SELECT * FROM b96)
      |)
      |SELECT cohort, count(*) AS n_customers,
      |  CAST(sum(o_custkey) AS BIGINT) AS key_sum
      |FROM cohorts GROUP BY 1 ORDER BY 1""".stripMargin

  /** Pivot: order counts per (segment × status) as a wide frame —
    * explicit pivot values so the output schema is static, mirrored as
    * conditional aggregation in the oracle. */
  def q43Pivot(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
    val cus = Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")
    ord.join(broadcast(cus), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .toDF("segment", "n_f", "n_o", "n_p")
      .orderBy($"segment")
  }

  val q43PivotSql: String =
    """SELECT c_mktsegment AS segment,
      |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
      |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
      |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // =====================================================================
  // q80: statistical aggregates from exact integer moments
  // =====================================================================

  /** Pearson correlation / covariance / stddev per group — computed
    * from EXACT integer moments, not the built-in `corr()`: the
    * built-ins accumulate doubles in partition order, so Spark and
    * DuckDB (and two runs of the same engine with different
    * partitioning) disagree in the last ulps. Here x is floored to
    * integer dollars and y is integral, so Σx, Σy, Σxy, Σx², Σy² are
    * exact BIGINTs — order-independent — and every double that follows
    * is derived identically in both engines from identical integers.
    * One map-side-combinable aggregate, 3 groups at any scale. */
  def q80CorrMoments(s: SparkSession, d: String): DataFrame = {
    val x = floor($"l_extendedprice").cast("long") // integer dollars
    val y = $"l_quantity".cast("long")             // integral by data
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select($"l_returnflag", $"n", $"sx", $"sy", $"sxy", $"sxx", $"syy")
      .select($"l_returnflag", $"n",
        stableRound($"sx" / $"n", 6).as("mean_x"),
        stableRound($"sy" / $"n", 6).as("mean_y"),
        // products run in DOUBLE: n·sxx and sx² overflow BIGINT at
        // scale, while every SUM is exact below 2^53 — so long→double
        // conversion and the IEEE products/differences that follow are
        // bit-identical in both engines (deterministic, order-free)
        stableRound((dbl($"n") * $"sxy" - dbl($"sx") * $"sy") /
          (dbl($"n") * $"n"), 6).as("covar_pop"),
        stableRound((dbl($"n") * $"sxy" - dbl($"sx") * $"sy") /
          (sqrt(dbl($"n") * $"sxx" - dbl($"sx") * $"sx") *
           sqrt(dbl($"n") * $"syy" - dbl($"sy") * $"sy")), 6).as("corr"))
      .orderBy($"l_returnflag")
  }

  private def dbl(c: Column): Column = c.cast("double")

  val q80CorrMomentsSql: String = {
    val moments =
      """SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sy,
        |    CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)
        |             * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxy,
        |    CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)
        |             * CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxx,
        |    CAST(sum(CAST(l_quantity AS BIGINT)
        |             * CAST(l_quantity AS BIGINT)) AS BIGINT) AS syy
        |  FROM lineitem GROUP BY l_returnflag""".stripMargin
    val dn = "CAST(n AS DOUBLE)"
    val dsx = "CAST(sx AS DOUBLE)"
    val dsy = "CAST(sy AS DOUBLE)"
    s"""WITH m AS ($moments)
       |SELECT l_returnflag, n,
       |  ${sqlRound("sx / n", 6)} AS mean_x,
       |  ${sqlRound("sy / n", 6)} AS mean_y,
       |  ${sqlRound(s"($dn * sxy - $dsx * sy) / ($dn * n)", 6)} AS covar_pop,
       |  ${sqlRound(s"($dn * sxy - $dsx * sy) / (sqrt($dn * sxx - $dsx * sx) * sqrt($dn * syy - $dsy * sy))", 6)} AS corr
       |FROM m ORDER BY l_returnflag""".stripMargin
  }

  // =====================================================================
  // q70: explicit runtime-filter (bloom-style) semi-join pushdown
  // =====================================================================

  /** Coarse-filter bucket count. Bounded: the filter relation can never
    * exceed this many rows no matter how large the build side grows, so
    * broadcasting it is safe at ANY scale — that's the whole point. */
  private val BloomBuckets = 4096

  /** Semi-join of the fact table against a filtered build side, with an
    * explicit runtime-filter pre-pass: the build side's join keys are
    * coarsened to ≤[[BloomBuckets]] distinct hash buckets (a 1-hash
    * Bloom filter — false positives, never false negatives), broadcast,
    * and applied to the probe side BEFORE the real shuffle join. Rows
    * the filter rejects never enter the exchange — at 100 TB that's the
    * difference between shuffling the whole fact table and shuffling
    * the ~selectivity fraction that can possibly match. The exact
    * semi-join then removes the false positives, so the rewrite is
    * semantically invisible — which is exactly what the oracle checks:
    * it runs the PLAIN semi-join (like q64, where the salting rewrite
    * must be invisible to a plain group-by). Spark's own
    * `spark.sql.optimizer.runtimeFilter.*` does this opaquely;
    * ScaleSpec pins the explicit plan shape (broadcast of the bucket
    * relation, probe filtered before the join exchange). */
  def q70BloomSemijoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val ords = Tables.orders(s, d)
      .filter($"o_orderstatus" === "F" && $"o_totalprice" > 100000.0)
    def bucketOf(k: Column): Column = pmod(xxhash64(k), lit(BloomBuckets))
    val buckets = ords.select(bucketOf($"o_orderkey").as("bkt")).distinct()
    li.join(broadcast(buckets), bucketOf($"l_orderkey") === $"bkt", "left_semi")
      .join(ords.select($"o_orderkey"), $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        moneySum($"l_extendedprice").as("gross"))
      .orderBy($"l_returnflag")
  }

  val q70BloomSemijoinSql: String =
    s"""SELECT l_returnflag, count(*) AS n_items,
       |  ${sqlMoneySum("l_extendedprice")} AS gross
       |FROM lineitem WHERE l_orderkey IN (
       |  SELECT o_orderkey FROM orders
       |  WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0)
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // =====================================================================
  // q71: Z-order layout key (multi-dimensional clustering for pruning)
  // =====================================================================

  private val ZBits = 10

  /** Morton/Z-value of two [[ZBits]]-bit dimensions: bit i of x lands at
    * position 2i, bit i of y at 2i+1. Pure unrolled integer arithmetic
    * (shift/and/add) — codegen'd, and the SAME Scala loop emits the
    * oracle SQL so the two cannot drift. */
  private[graft] def zValue(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  private def zValueSql(x: String, y: String): String =
    (0 until ZBits).map { i =>
      s"(($x >> $i) & 1) * ${1L << (2 * i)} + (($y >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString("(", " + ", ")")

  /** Z-order clustering audit: compute the interleaved layout key over
    * (partkey, suppkey) and report, for each of the 64 top-level
    * Z-buckets, how tightly BOTH source dimensions are bounded. This is
    * the data-layout story for multi-dimensional pruning at 100 TB:
    * sort/write by zval and a predicate on EITHER dimension prunes
    * ~⅞ of the files from parquet min/max stats alone — the per-bucket
    * min/max columns in this result ARE those file-skipping stats
    * (each 2¹⁴-wide Z-bucket confines each dimension to a 128-wide
    * range, asserted in ScaleSpec). One narrow projection + one 64-group
    * aggregate; no shuffle beyond the 64-row final merge. */
  def q71ZOrder(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(
        pmod($"l_partkey", lit(1024)).cast("long").as("zx"),
        pmod($"l_suppkey", lit(1024)).cast("long").as("zy"))
      .select($"zx", $"zy", zValue($"zx", $"zy").as("zval"))
      .groupBy(shiftright($"zval", 14).as("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min($"zx").as("min_x"), max($"zx").as("max_x"),
        min($"zy").as("min_y"), max($"zy").as("max_y"))
      .orderBy($"zbucket")

  val q71ZOrderSql: String =
    s"""WITH z AS (SELECT zx, zy, ${zValueSql("zx", "zy")} AS zval FROM (
       |    SELECT CAST(l_partkey % 1024 AS BIGINT) AS zx,
       |           CAST(l_suppkey % 1024 AS BIGINT) AS zy FROM lineitem))
       |SELECT zval >> 14 AS zbucket, count(*) AS n_rows,
       |  min(zx) AS min_x, max(zx) AS max_x,
       |  min(zy) AS min_y, max(zy) AS max_y
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin

  // =====================================================================
  // q83: explicit GROUPING SETS with grouping_id (beyond q17/q18's
  // cube/rollup — the arbitrary-sets surface, Dataset.groupingSets)
  // =====================================================================

  /** Three grouping sets in ONE pass — (flag, status), (flag), and the
    * grand total — with `grouping_id()` disambiguating real NULL group
    * keys from "aggregated away" (the coalesce-to-ALL trick q17 uses
    * breaks when a key column is genuinely nullable; the id does not).
    * Spark expands the sets via a single Expand node feeding one hash
    * aggregate — rows are replicated once per set they belong to and
    * partially aggregated map-side, so the shuffle carries at most
    * |groups| × |sets| rows at any scale, same as cube/rollup. */
  def q83GroupingSets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"),
          Seq.empty),
        $"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_rows"), sum($"l_quantity").as("sum_qty"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce($"l_returnflag", lit("-")).as("rflag"),
        coalesce($"l_linestatus", lit("-")).as("lstatus"),
        $"gid", $"n_rows", $"sum_qty")
      .orderBy($"gid", $"rflag", $"lstatus")

  val q83GroupingSetsSql: String =
    """SELECT coalesce(l_returnflag, '-') AS rflag,
      |  coalesce(l_linestatus, '-') AS lstatus,
      |  CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS n_rows, sum(l_quantity) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |                        (l_returnflag), ())
      |ORDER BY gid, rflag, lstatus""".stripMargin

  // =====================================================================
  // q84: the full ranking-function family (rank / dense_rank /
  // percent_rank / cume_dist / ntile) with real ties
  // =====================================================================

  /** Every SQL ranking function over a DELIBERATELY tied ordering
    * (l_quantity is 1..50, so every partition has deep ties):
    * rank/dense_rank/percent_rank/cume_dist depend only on the ORDER BY
    * values and are deterministic under ties; ntile depends on row
    * order WITHIN ties, so it (and only it) runs over the fully
    * tie-broken ordering — the cross-engine determinism rule for window
    * functions made explicit in one query. percent_rank = (rank−1)/(n−1)
    * and cume_dist = peers/n are integer-derived IEEE divisions,
    * bit-identical in both engines. One exchange on the partition key,
    * one sort — the minimal window shape. */
  def q84RankFamily(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tied = Window.partitionBy($"l_returnflag")
      .orderBy($"l_quantity")
    val broken = Window.partitionBy($"l_returnflag")
      .orderBy($"l_quantity", $"l_orderkey", $"l_linenumber")
    Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit("1998-01-01").cast("date"))
      .select($"l_returnflag", $"l_quantity", $"l_orderkey", $"l_linenumber",
        rank().over(tied).cast("long").as("rnk"),
        dense_rank().over(tied).cast("long").as("drnk"),
        stableRound(percent_rank().over(tied), 6).as("prnk"),
        stableRound(cume_dist().over(tied), 6).as("cdist"),
        ntile(8).over(broken).cast("long").as("octile"))
      .orderBy($"l_returnflag", $"l_quantity", $"l_orderkey", $"l_linenumber")
  }

  val q84RankFamilySql: String =
    s"""SELECT l_returnflag, l_quantity, l_orderkey, l_linenumber,
       |  CAST(rank() OVER w AS BIGINT) AS rnk,
       |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       |  ${sqlRound("percent_rank() OVER w", 6)} AS prnk,
       |  ${sqlRound("cume_dist() OVER w", 6)} AS cdist,
       |  CAST(ntile(8) OVER wb AS BIGINT) AS octile
       |FROM lineitem WHERE l_shipdate >= DATE '1998-01-01'
       |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity),
       |  wb AS (PARTITION BY l_returnflag
       |         ORDER BY l_quantity, l_orderkey, l_linenumber)
       |ORDER BY l_returnflag, l_quantity, l_orderkey, l_linenumber""".stripMargin

  // =====================================================================
  // q85: EXACT median + mode per group via histogram aggregation
  // (the scale-correct exact-order-statistic algorithm — no global sort)
  // =====================================================================

  /** Exact per-group median and mode of `events.value` WITHOUT ever
    * sorting the rows: values live on an exact cent grid, so aggregate
    * the (type, cents) histogram first — at 100 TB the histogram is
    * bounded by the value domain (≤49 002 cells/group here), not the
    * row count — then take order statistics by cumulative count over
    * the tiny histogram. Median = lower discrete median (smallest value
    * whose running count reaches ⌈n/2⌉ — a VALUE from the set, no
    * interpolation ambiguity); mode = highest count with smallest-value
    * tie-break (total order, deterministic in both engines). Contrast
    * with q39/q54: those exercise Spark's percentile machinery; this is
    * the engine-neutral exact algorithm that scales. */
  def q85MedianMode(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.events(s, d)
      .select($"event_type",
        floor($"value" * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("c"))
    // ONE histogram derivation feeds median AND mode: all three windows
    // share the event_type exchange (two orderings → two local sorts),
    // and the raw stream is scanned exactly once — a second arm deriving
    // its own histogram would scan the corpus twice for no reason
    val byType = Window.partitionBy($"event_type")
    val scored = hist.select($"event_type", $"cents", $"c",
      sum($"c").over(byType.orderBy($"cents")).as("cum"),
      sum($"c").over(byType).as("n"),
      row_number().over(byType.orderBy($"c".desc, $"cents")).as("mrn"))
    scored.groupBy($"event_type")
      .agg(max($"n").as("n"),
        min(when($"cum" * 2 >= $"n", $"cents")).as("median_cents"),
        max(when($"mrn" === 1, $"cents")).as("mode_cents"),
        max(when($"mrn" === 1, $"c")).as("mode_count"))
      .select($"event_type", $"n",
        ($"median_cents" / 100.0).as("median_value"),
        ($"mode_cents" / 100.0).as("mode_value"), $"mode_count")
      .orderBy($"event_type")
  }

  val q85MedianModeSql: String =
    """WITH hist AS (SELECT event_type,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
      |    count(*) AS c
      |  FROM events GROUP BY event_type, cents),
      |scored AS (SELECT event_type, cents, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS n,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY c DESC, cents) AS mrn
      |  FROM hist)
      |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
      |  min(CASE WHEN cum * 2 >= n THEN cents END) / 100.0 AS median_value,
      |  max(CASE WHEN mrn = 1 THEN cents END) / 100.0 AS mode_value,
      |  CAST(max(CASE WHEN mrn = 1 THEN c END) AS BIGINT) AS mode_count
      |FROM scored GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // =====================================================================
  // q98: FULL OUTER snapshot reconciliation (period-over-period diff)
  // =====================================================================

  private val SnapCutoff = "1998-04-01"

  /** Period-over-period customer reconciliation — the FULL OUTER JOIN
    * primitive (the one join type the q4/q5/q6/q6b family doesn't
    * cover): per-customer aggregates of the orders BEFORE vs AFTER a
    * cutoff date, joined full-outer on the customer key and classified
    * churned / new / retained with an exact money delta. This is the
    * snapshot-diff shape every CDC/batch-reconciliation pipeline runs
    * (yesterday's load vs today's). Both snapshot aggregations shuffle
    * on `o_custkey` and the join reuses that partitioning, so the whole
    * diff costs ONE exchange per side at any scale; totals stay on the
    * exact integer cent grid until the final division (README rule 2),
    * so the delta is order-independent in both engines. */
  def q98SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    def snap(pred: Column, tag: String): DataFrame = orders.filter(pred)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as(s"${tag}_n"),
        sum(floor($"o_totalprice" * 100.0 + 0.5)).as(s"${tag}_cents"))
    val cutoff = lit(SnapCutoff).cast("date")
    snap($"o_orderdate" < cutoff, "old")
      .join(snap($"o_orderdate" >= cutoff, "new"), Seq("o_custkey"), "full_outer")
      .select($"o_custkey",
        when($"old_n".isNull, lit("new"))
          .when($"new_n".isNull, lit("churned"))
          .otherwise(lit("retained")).as("status"),
        coalesce($"old_n", lit(0L)).as("old_n"),
        coalesce($"new_n", lit(0L)).as("new_n"),
        ((coalesce($"new_cents", lit(0L)) - coalesce($"old_cents", lit(0L)))
          / 100.0).as("delta"))
      .orderBy($"o_custkey")
  }

  val q98SnapshotDiffSql: String =
    s"""WITH a AS (SELECT o_custkey, count(*) AS old_n,
       |    sum(floor(o_totalprice * 100.0 + 0.5)) AS old_cents
       |  FROM orders WHERE o_orderdate < DATE '$SnapCutoff' GROUP BY 1),
       |b AS (SELECT o_custkey, count(*) AS new_n,
       |    sum(floor(o_totalprice * 100.0 + 0.5)) AS new_cents
       |  FROM orders WHERE o_orderdate >= DATE '$SnapCutoff' GROUP BY 1)
       |SELECT o_custkey,
       |  CASE WHEN a.o_custkey IS NULL THEN 'new'
       |       WHEN b.o_custkey IS NULL THEN 'churned'
       |       ELSE 'retained' END AS status,
       |  coalesce(old_n, 0) AS old_n, coalesce(new_n, 0) AS new_n,
       |  (coalesce(new_cents, 0) - coalesce(old_cents, 0)) / 100.0 AS delta
       |FROM a FULL OUTER JOIN b USING (o_custkey)
       |ORDER BY o_custkey""".stripMargin

  // =====================================================================
  // q103: multi-column data profile (quality audit in one corpus pass)
  // =====================================================================

  private val ProfileCols = Seq("l_quantity", "l_extendedprice", "l_discount",
    "l_tax")

  /** Column profiler — the data-quality audit every ingest runs before
    * trusting a new drop: per numeric column, row/null counts, EXACT
    * distinct cardinality, and cent-grid min/max/mean, all from ONE
    * declarative aggregation over the table (Spark expands the four
    * COUNT(DISTINCT)s into a single Expand→aggregate pair — one scan,
    * |cols|× map-side replication, never |cols| scans). Exact NDV is
    * the honest profile at any scale — the sketch alternative is q19's
    * HLL, which a 100 TB profile would swap in per column. The one-row
    * aggregate is then exploded to a per-column relation driver-side of
    * nothing: the pivot happens in the plan, not in a collect. */
  def q103Profile(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    def cents(c: Column): Column = floor(c * 100.0 + 0.5).cast("long")
    val aggs = ProfileCols.flatMap { c =>
      val col0 = col(c)
      Seq(
        sum(when(col0.isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        count_distinct(col0).as(s"${c}__ndv"),
        min(cents(col0)).as(s"${c}__min"),
        max(cents(col0)).as(s"${c}__max"),
        sum(cents(col0)).as(s"${c}__sum"))
    }
    val one = li.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val packed = one.select(explode(array(ProfileCols.map { c =>
      struct(lit(c).as("col_name"), $"n_rows",
        col(s"${c}__nulls").as("n_null"), col(s"${c}__ndv").as("n_distinct"),
        (col(s"${c}__min") / 100.0).as("min_v"),
        (col(s"${c}__max") / 100.0).as("max_v"),
        stableRound(col(s"${c}__sum") / 100.0 / $"n_rows", 4).as("avg_v"))
    }: _*)).as("p"))
    packed.select($"p.*").orderBy($"col_name")
  }

  val q103ProfileSql: String = {
    val arms = ProfileCols.map { c =>
      s"""SELECT '$c' AS col_name, n_rows, ${c}__nulls AS n_null,
         |  ${c}__ndv AS n_distinct, ${c}__min / 100.0 AS min_v,
         |  ${c}__max / 100.0 AS max_v,
         |  ${sqlRound(s"${c}__sum / 100.0 / n_rows", 4)} AS avg_v FROM a""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\n")
    val aggs = ProfileCols.map { c =>
      s"""  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS ${c}__nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS ${c}__ndv,
         |  CAST(min(floor($c * 100.0 + 0.5)) AS BIGINT) AS ${c}__min,
         |  CAST(max(floor($c * 100.0 + 0.5)) AS BIGINT) AS ${c}__max,
         |  CAST(sum(floor($c * 100.0 + 0.5)) AS BIGINT) AS ${c}__sum""".stripMargin
    }.mkString(",\n")
    s"""WITH a AS (SELECT count(*) AS n_rows,\n$aggs\n  FROM lineitem)
       |SELECT * FROM ($arms) AS u ORDER BY col_name""".stripMargin
  }

  // =====================================================================
  // q104: skew-differentiated hot/cold join (broadcast the hot keys,
  // shuffle the cold tail) — the OTHER standard skew weapon beside
  // q64's salting
  // =====================================================================

  private val HotKeys = 20

  /** Differentiated join: the [[HotKeys]] heaviest join keys take a
    * broadcast path (their rows NEVER shuffle — the straggler a skewed
    * key causes in a sort-merge join simply doesn't exist), the cold
    * tail takes the ordinary sort-merge path, and the arms union before
    * the final aggregate. The hot set is found with a bounded
    * TakeOrdered (per-partition top-k heaps, K rows to the driver-side
    * merge — never a global sort) and stays a broadcast relation
    * end-to-end. Like q64 and q70 the rewrite must be INVISIBLE: the
    * oracle is the PLAIN join+aggregate, so the driver hash-checks that
    * differentiation changes the plan, not the answer. */
  def q104HotColdJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val ords = Tables.orders(s, d)
    val hot = li.groupBy($"l_orderkey").agg(count(lit(1)).as("hc"))
      .orderBy($"hc".desc, $"l_orderkey").limit(HotKeys)
      .select($"l_orderkey".as("hk"))
    val liHot = li.join(broadcast(hot), $"l_orderkey" === $"hk", "left_semi")
    val liCold = li.join(broadcast(hot), $"l_orderkey" === $"hk", "left_anti")
    val ordsHot = ords.join(broadcast(hot), $"o_orderkey" === $"hk", "left_semi")
    val armHot = liHot.join(broadcast(ordsHot),
      $"l_orderkey" === $"o_orderkey")
    val armCold = liCold.join(ords.hint("merge"),
      $"l_orderkey" === $"o_orderkey")
    armHot.select($"o_orderpriority", $"l_extendedprice")
      .unionByName(armCold.select($"o_orderpriority", $"l_extendedprice"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        moneySum($"l_extendedprice").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  val q104HotColdJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      |  sum(floor(l_extendedprice * 100.0 + 0.5)) / 100.0 AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // =====================================================================
  // q106: incremental aggregate maintenance (partial-state merge)
  // =====================================================================

  /** Incremental view maintenance — the reason a 100 TB daily pipeline
    * never rescans history: yesterday's aggregate persists as PARTIAL
    * state (count + exact cent sum per group — both mergeable), today's
    * delta aggregates alone, and the two merge in a bounded-size
    * aggregation (|groups| rows, not |history| rows). Here the state is
    * simulated from the pre-cutoff orders (same [[SnapCutoff]] as q98)
    * and the delta is the rest; the oracle is the FULL recompute over
    * all orders, so the driver hash-proves merge(state, agg(delta)) ≡
    * agg(everything) — the algebraic property (commutative-monoid
    * partials) that makes incremental maintenance correct at all.
    * AVG is deliberately derived from the mergeable (sum, count) pair
    * at the END — the classic non-mergeable aggregate done right. */
  def q106IncrementalAgg(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val cutoff = lit(SnapCutoff).cast("date")
    def partial(df: DataFrame): DataFrame = df
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(floor($"o_totalprice" * 100.0 + 0.5)).as("cents"))
    val state = partial(orders.filter($"o_orderdate" < cutoff))
    val delta = partial(orders.filter($"o_orderdate" >= cutoff))
    state.unionByName(delta)
      .groupBy($"o_orderpriority")
      .agg(sum($"n").as("n_orders"), sum($"cents").as("cents"))
      .select($"o_orderpriority", $"n_orders",
        ($"cents" / 100.0).as("total"),
        stableRound($"cents" / 100.0 / $"n_orders", 2).as("avg_price"))
      .orderBy($"o_orderpriority")
  }

  val q106IncrementalAggSql: String =
    s"""SELECT o_orderpriority, count(*) AS n_orders,
       |  sum(floor(o_totalprice * 100.0 + 0.5)) / 100.0 AS total,
       |  ${sqlRound("sum(floor(o_totalprice * 100.0 + 0.5)) / 100.0 / count(*)", 2)}
       |    AS avg_price
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // =====================================================================
  // q109: order-independent table checksum (snapshot reconciliation)
  // =====================================================================

  /** Content fingerprint of a relation that two systems can compare
    * WITHOUT sorting or moving the data: every row canonicalizes to a
    * delimited string (money on the cent grid, dates as yyyy-MM-dd —
    * the cross-engine-stable forms), hashes to a 60-bit integer (15
    * md5 hex digits — inside BIGINT range in every engine; a full
    * 64-bit value would overflow Spark's signed string→long cast), and
    * the per-group fingerprint is the XOR of the row hashes — an
    * abelian-group aggregate, so it is partition- and order-invariant,
    * never overflows, and map-side partials combine exactly like the
    * cluster computes them. Each side of a migration/CDC pipeline
    * computes its |groups|-row checksum relation locally and compares
    * tiny outputs — the way you reconcile two 100 TB copies without a
    * 100 TB join. A single flipped cent flips the group fingerprint. */
  def q109Checksum(s: SparkSession, d: String): DataFrame = {
    val row = concat_ws("|",
      $"o_orderkey".cast("string"), $"o_custkey".cast("string"),
      $"o_orderstatus",
      floor($"o_totalprice" * 100.0 + 0.5).cast("long").cast("string"),
      date_format($"o_orderdate", "yyyy-MM-dd"), $"o_orderpriority")
    Tables.orders(s, d)
      .select($"o_orderpriority",
        conv(substring(md5(row), 1, 15), 16, 10).cast("long").as("rh"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(rh)").as("fingerprint"))
      .orderBy($"o_orderpriority")
  }

  val q109ChecksumSql: String =
    """WITH rh AS (SELECT o_orderpriority,
      |    CAST('0x' || substring(md5(
      |      CAST(o_orderkey AS VARCHAR) || '|' ||
      |      CAST(o_custkey AS VARCHAR) || '|' ||
      |      o_orderstatus || '|' ||
      |      CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS VARCHAR)
      |        || '|' ||
      |      strftime(o_orderdate, '%Y-%m-%d') || '|' ||
      |      o_orderpriority), 1, 15) AS BIGINT) AS rh
      |  FROM orders)
      |SELECT o_orderpriority, count(*) AS n_rows,
      |  bit_xor(rh) AS fingerprint
      |FROM rh GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // =====================================================================
  // q139: point-in-time SCD2 lookup (effective-dated dimension join)
  // =====================================================================

  /** The read side of SCD2 (q56 is the write side): facts join the
    * dimension VERSION that was active at the fact's own date. The
    * version history derives from orders (per customer, each order
    * date opens a version carrying that order's priority, valid until
    * the next order — latest-per-day collapse first, so versions are
    * unique), and every order then looks up the version active at its
    * date: `o_orderdate ∈ [eff_start, eff_end)`. Shape: one window
    * (lead) builds intervals, one equi-join on the customer key with
    * the interval predicate as a residual filter — fan-out bounded by
    * versions-per-customer, never a cross join; both sides share the
    * custkey exchange. Self-consistency makes the oracle sharp: every
    * fact MUST match exactly one version, and a fact on a version-
    * opening day must see THAT version (closed-open boundary) — both
    * asserted in the output, not just in a spec. */
  def q139PointInTime(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d).select($"o_custkey",
      date_format($"o_orderdate", "yyyy-MM-dd").as("day"),
      $"o_orderkey", $"o_orderpriority",
      floor($"o_totalprice" * 100.0 + 0.5).cast("long").as("cents"))
    // one version per (customer, day): the day's LAST order wins
    // (max orderkey — deterministic)
    val wDay = Window.partitionBy($"o_custkey", $"day")
      .orderBy($"o_orderkey".desc)
    val versions = o
      .select($"o_custkey", $"day", $"o_orderpriority",
        row_number().over(wDay).as("rn"))
      .filter($"rn" === 1)
      .select($"o_custkey", $"day".as("eff_start"), $"o_orderpriority")
    val wVer = Window.partitionBy($"o_custkey").orderBy($"eff_start")
    val intervals = versions.select($"o_custkey", $"eff_start",
      coalesce(lead($"eff_start", 1).over(wVer), lit("9999-12-31"))
        .as("eff_end"),
      $"o_orderpriority".as("ver_priority"))
    o.join(intervals, Seq("o_custkey"))
      .filter($"day" >= $"eff_start" && $"day" < $"eff_end")
      .groupBy($"ver_priority")
      .agg(
        count(lit(1)).as("n_facts"),
        countDistinct($"o_orderkey").as("n_distinct_facts"),
        (sum($"cents") / 100.0).as("fact_value"))
      .select($"ver_priority", $"n_facts", $"fact_value",
        // every fact matched exactly one version ⇔ no fact duplicated
        ($"n_facts" === $"n_distinct_facts").as("unique_match"))
      .orderBy($"ver_priority")
  }

  val q139PointInTimeSql: String =
    """WITH o AS (SELECT o_custkey,
      |    strftime(o_orderdate, '%Y-%m-%d') AS day,
      |    o_orderkey, o_orderpriority,
      |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |v0 AS (SELECT o_custkey, day, o_orderpriority,
      |    row_number() OVER (PARTITION BY o_custkey, day
      |      ORDER BY o_orderkey DESC) AS rn
      |  FROM o),
      |vers AS (SELECT o_custkey, day AS eff_start, o_orderpriority
      |  FROM v0 WHERE rn = 1),
      |iv AS (SELECT o_custkey, eff_start,
      |    coalesce(lead(eff_start) OVER (PARTITION BY o_custkey
      |      ORDER BY eff_start), '9999-12-31') AS eff_end,
      |    o_orderpriority AS ver_priority
      |  FROM vers)
      |SELECT i.ver_priority, count(*) AS n_facts,
      |  CAST(sum(o.cents) AS BIGINT) / 100.0 AS fact_value,
      |  (count(*) = count(DISTINCT o.o_orderkey)) AS unique_match
      |FROM o JOIN iv i ON i.o_custkey = o.o_custkey
      |  AND o.day >= i.eff_start AND o.day < i.eff_end
      |GROUP BY i.ver_priority ORDER BY i.ver_priority""".stripMargin

  // =====================================================================
  // q140: distribution-drift detection (exact Kolmogorov–Smirnov)
  // =====================================================================

  private val DriftSplitDay = "2024-01-16"

  /** Data-drift monitoring — the two-sample Kolmogorov–Smirnov
    * statistic between the first and second half of the month, per
    * event type: D = max |CDF₁ − CDF₂| over the merged value grid.
    * CDFs follow the rule-7 discipline: exact integer cumulative
    * counts first, ONE correctly-rounded double division each
    * (cum/n — identical operands ⇒ identical doubles in both
    * engines), then an order-free max. (The integer cross-
    * multiplication |cum₁·n₂ − cum₂·n₁| would be fully exact but
    * overflows BIGINT once per-type counts reach ~10¹⁰ — exactly the
    * q80 overflow class this engine avoids.) Everything after the
    * first aggregation is histogram-sized. The same shape monitors
    * feature drift between training snapshots at any scale. */
  def q140KsDrift(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d).select($"event_type",
      floor($"value" * 100.0 + 0.5).cast("long").as("cents"),
      (date_format($"ts", "yyyy-MM-dd") < DriftSplitDay).as("first_half"))
    val hist = ev.groupBy($"event_type", $"cents")
      .agg(
        sum(when($"first_half", 1L).otherwise(0L)).as("c1"),
        sum(when(!$"first_half", 1L).otherwise(0L)).as("c2"))
    val byType = Window.partitionBy($"event_type")
    val cdf = hist.select($"event_type", $"cents",
      sum($"c1").over(byType.orderBy($"cents")).as("cum1"),
      sum($"c2").over(byType.orderBy($"cents")).as("cum2"),
      sum($"c1").over(byType).as("n1"),
      sum($"c2").over(byType).as("n2"))
    cdf.groupBy($"event_type")
      .agg(
        max($"n1").as("n1"), max($"n2").as("n2"),
        max(abs($"cum1" / $"n1" - $"cum2" / $"n2")).as("dmax"))
      .select($"event_type", $"n1", $"n2",
        floor($"dmax" * 1000000.0).cast("long").as("ks_ppm"))
      .orderBy($"event_type")
  }

  val q140KsDriftSql: String =
    s"""WITH ev AS (SELECT event_type,
       |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
       |    (strftime(ts, '%Y-%m-%d') < '$DriftSplitDay') AS first_half
       |  FROM events),
       |h AS (SELECT event_type, cents,
       |    sum(CASE WHEN first_half THEN 1 ELSE 0 END) AS c1,
       |    sum(CASE WHEN first_half THEN 0 ELSE 1 END) AS c2
       |  FROM ev GROUP BY 1, 2),
       |cdf AS (SELECT event_type, cents,
       |    sum(c1) OVER (PARTITION BY event_type ORDER BY cents) AS cum1,
       |    sum(c2) OVER (PARTITION BY event_type ORDER BY cents) AS cum2,
       |    sum(c1) OVER (PARTITION BY event_type) AS n1,
       |    sum(c2) OVER (PARTITION BY event_type) AS n2
       |  FROM h)
       |SELECT event_type, CAST(max(n1) AS BIGINT) AS n1,
       |  CAST(max(n2) AS BIGINT) AS n2,
       |  CAST(floor(max(abs(CAST(cum1 AS DOUBLE) / n1 -
       |    CAST(cum2 AS DOUBLE) / n2)) * 1000000.0) AS BIGINT) AS ks_ppm
       |FROM cdf GROUP BY event_type ORDER BY event_type""".stripMargin

  // =====================================================================
  // q137: Pareto / ABC analysis (two-phase global cumulative share)
  // =====================================================================

  /** ABC classification — "which customers are the top 80% of
    * revenue": per-customer exact cent revenue, customers ranked by
    * revenue descending, each classified A/B/C by the CUMULATIVE
    * revenue share before them (<80% → A, <95% → B, else C). The
    * cumulative sum over a global ordering is the q111 problem again —
    * a single-partition window is a sequential scan of |customers| at
    * scale — so it runs two-phase: coarse revenue buckets (integer
    * div) give a bounded carry-in relation, and the within-bucket
    * window partitions by bucket. Boundary discipline: the class
    * tests EXCLUSIVE prefix share (the customer that crosses 80%
    * stays A — the standard convention), on exact integer cents vs
    * total·80/100. Output: bounded per-class census. The oracle is
    * the SINGLE-phase global window — the decomposition is what the
    * hash proves (q111 discipline). */
  def q137AbcAnalysis(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.orders(s, d)
      .select($"o_custkey",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy($"o_custkey").agg(sum($"cents").as("rev"))
    // coarse bucket: higher bucket = higher revenue band; within-band
    // window ordered (rev desc, custkey) — globally consistent with
    // the bucket order by construction
    val bucketed = rev.select($"o_custkey", $"rev",
      expr("rev div 1000000").as("bkt"))
    val wBkts = Window.orderBy($"bkt".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = bucketed.groupBy($"bkt").agg(sum($"rev").as("brev"))
      .select($"bkt", coalesce(sum($"brev").over(wBkts), lit(0L))
        .as("carry_in"))
    val wIn = Window.partitionBy($"bkt")
      .orderBy($"rev".desc, $"o_custkey")
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = rev.agg(sum($"rev").as("total"))
    bucketed
      .join(broadcast(carry), "bkt")
      .select($"o_custkey", $"rev",
        ($"carry_in" + coalesce(sum($"rev").over(wIn), lit(0L)))
          .as("before"))
      .crossJoin(broadcast(total))
      .select($"rev",
        when($"before" * 100 < $"total" * 80, lit("A"))
          .when($"before" * 100 < $"total" * 95, lit("B"))
          .otherwise(lit("C")).as("abc_class"))
      .groupBy($"abc_class")
      .agg(count(lit(1)).as("n_customers"),
        sum($"rev").as("rev_cents"))
      .crossJoin(broadcast(total))
      .select($"abc_class", $"n_customers",
        ($"rev_cents" / 100.0).as("class_revenue"),
        floor($"rev_cents" * 1000000.0 / $"total").cast("long")
          .as("share_ppm"))
      .orderBy($"abc_class")
  }

  val q137AbcAnalysisSql: String =
    """WITH rev AS (SELECT o_custkey,
      |    sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS rev
      |  FROM orders GROUP BY 1),
      |t AS (SELECT sum(rev) AS total FROM rev),
      |c AS (SELECT rev,
      |    coalesce(sum(rev) OVER (ORDER BY rev DESC, o_custkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS before
      |  FROM rev),
      |cl AS (SELECT rev, CASE
      |    WHEN before * 100 < t.total * 80 THEN 'A'
      |    WHEN before * 100 < t.total * 95 THEN 'B'
      |    ELSE 'C' END AS abc_class
      |  FROM c, t)
      |SELECT abc_class, count(*) AS n_customers,
      |  CAST(sum(rev) AS BIGINT) / 100.0 AS class_revenue,
      |  CAST(floor(CAST(sum(rev) AS BIGINT) * 1000000.0 /
      |    (SELECT total FROM t)) AS BIGINT) AS share_ppm
      |FROM cl GROUP BY abc_class ORDER BY abc_class""".stripMargin

  // =====================================================================
  // q128: winsorized statistics (percentile clipping)
  // =====================================================================

  /** Winsorization — the ML-preprocessing clip that tames heavy tails
    * without dropping rows: per type, the exact p05/p95 cent-grid
    * boundaries (the q85 histogram order statistic at both tails),
    * clip counts, and the winsorized mean. EVERYTHING derives from the
    * bounded histogram — boundaries, clip census, and the clipped sum
    * (Σ clip(v)·count over histogram rows) — so the corpus is scanned
    * exactly once and no second pass applies the clip. */
  def q128Winsorize(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byType = Window.partitionBy($"event_type")
    val hist = Tables.events(s, d)
      .select($"event_type",
        floor($"value" * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("c"))
      .select($"event_type", $"cents", $"c",
        sum($"c").over(byType.orderBy($"cents")).as("cum"),
        sum($"c").over(byType).as("n"))
    val bounds = hist.groupBy($"event_type")
      .agg(max($"n").as("n"),
        min(when($"cum" * 20 >= $"n", $"cents")).as("lo"),
        min(when($"cum" * 20 >= $"n" * 19, $"cents")).as("hi"))
    hist.join(broadcast(bounds.select($"event_type", $"lo", $"hi")),
        "event_type")
      .groupBy($"event_type")
      .agg(
        sum($"c").as("n"),
        sum(when($"cents" < $"lo", $"c").otherwise(0L)).as("n_clipped_lo"),
        sum(when($"cents" > $"hi", $"c").otherwise(0L)).as("n_clipped_hi"),
        sum(greatest(least($"cents", $"hi"), $"lo") * $"c").as("wsum"),
        max($"lo").as("loc"), max($"hi").as("hic"))
      .select($"event_type", $"n",
        ($"loc" / 100.0).as("lo_value"),
        ($"hic" / 100.0).as("hi_value"),
        $"n_clipped_lo", $"n_clipped_hi",
        (floor($"wsum" / $"n" + 0.5) / 100.0).as("winsorized_mean"))
      .orderBy($"event_type")
  }

  val q128WinsorizeSql: String =
    """WITH h AS (SELECT event_type,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
      |    count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |sc AS (SELECT event_type, cents, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS n
      |  FROM h),
      |b AS (SELECT event_type, max(n) AS n,
      |    min(CASE WHEN cum * 20 >= n THEN cents END) AS lo,
      |    min(CASE WHEN cum * 20 >= n * 19 THEN cents END) AS hi
      |  FROM sc GROUP BY event_type)
      |SELECT s.event_type, CAST(sum(s.c) AS BIGINT) AS n,
      |  max(b.lo) / 100.0 AS lo_value,
      |  max(b.hi) / 100.0 AS hi_value,
      |  CAST(sum(CASE WHEN s.cents < b.lo THEN s.c ELSE 0 END) AS BIGINT)
      |    AS n_clipped_lo,
      |  CAST(sum(CASE WHEN s.cents > b.hi THEN s.c ELSE 0 END) AS BIGINT)
      |    AS n_clipped_hi,
      |  floor(sum(greatest(least(s.cents, b.hi), b.lo) * s.c)
      |    / sum(s.c) + 0.5) / 100.0 AS winsorized_mean
      |FROM sc s JOIN b USING (event_type)
      |GROUP BY s.event_type ORDER BY s.event_type""".stripMargin

  // =====================================================================
  // q125: CDC MERGE apply (latest-op-wins with deletes)
  // =====================================================================

  /** Change-data-capture apply — the lakehouse MERGE: an op stream
    * (INSERT for every key, an md5-chosen 20% carrying a later UPDATE,
    * 5% a later DELETE — derive-messy-from-clean, so the stream is a
    * pure function of the table) collapses to latest-op-per-key, and
    * DELETE removes the row. This is SCD2's (q56) destructive sibling:
    * one shuffle on the key, one window with the unique (seq, key)
    * order, one filter — the exact shape `MERGE INTO` compiles to.
    * Output: per-priority live census with exact cent sums and the
    * q109 order-free checksum of every surviving (key, cents) pair —
    * the applied table is proven row-for-row, not just counted. */
  def q125CdcMerge(s: SparkSession, d: String): DataFrame = {
    def h(salt: String): Column =
      conv(substring(md5(concat(lit(salt), $"o_orderkey".cast("string"))),
        1, 8), 16, 10).cast("long")
    val cents = floor($"o_totalprice" * 100.0 + 0.5).cast("long")
    val base = Tables.orders(s, d)
      .select($"o_orderkey", $"o_orderpriority", cents.as("cents"),
        (h("u:") % 5 === 0).as("has_upd"), (h("d:") % 20 === 0).as("has_del"))
    val ins = base.select($"o_orderkey", $"o_orderpriority",
      lit(1L).as("seq"), lit("I").as("op"), $"cents")
    val upd = base.filter($"has_upd")
      .select($"o_orderkey", $"o_orderpriority", lit(2L).as("seq"),
        lit("U").as("op"),
        ($"cents" + expr("cents div 10")).as("cents"))
    val del = base.filter($"has_del")
      .select($"o_orderkey", $"o_orderpriority", lit(3L).as("seq"),
        lit("D").as("op"), lit(0L).as("cents"))
    val w = Window.partitionBy($"o_orderkey").orderBy($"seq".desc)
    val applied = ins.union(upd).union(del)
      .select($"o_orderkey", $"o_orderpriority", $"op", $"cents",
        row_number().over(w).as("rn"))
      .filter($"rn" === 1)
    applied
      .groupBy($"o_orderpriority")
      .agg(
        sum(when($"op" =!= "D", 1L).otherwise(0L)).as("n_live"),
        sum(when($"op" === "D", 1L).otherwise(0L)).as("n_deleted"),
        (sum(when($"op" =!= "D", $"cents").otherwise(0L)) / 100.0)
          .as("live_value"),
        expr("bit_xor(CASE WHEN op <> 'D' THEN " +
          "cast(conv(substring(md5(concat(cast(o_orderkey as string), '|', " +
          "cast(cents as string))), 1, 15), 16, 10) as long) ELSE 0 END)")
          .as("fingerprint"))
      .orderBy($"o_orderpriority")
  }

  val q125CdcMergeSql: String = {
    def h(salt: String) =
      s"CAST('0x' || substring(md5('$salt' || CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT)"
    s"""WITH base AS (SELECT o_orderkey, o_orderpriority,
       |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
       |    (${h("u:")} % 5 = 0) AS has_upd,
       |    (${h("d:")} % 20 = 0) AS has_del
       |  FROM orders),
       |ops AS (
       |  SELECT o_orderkey, o_orderpriority, 1 AS seq, 'I' AS op, cents
       |    FROM base
       |  UNION ALL
       |  SELECT o_orderkey, o_orderpriority, 2, 'U', cents + cents // 10
       |    FROM base WHERE has_upd
       |  UNION ALL
       |  SELECT o_orderkey, o_orderpriority, 3, 'D', 0
       |    FROM base WHERE has_del),
       |ap AS (SELECT * FROM (SELECT o_orderkey, o_orderpriority, op, cents,
       |    row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC)
       |      AS rn FROM ops) WHERE rn = 1)
       |SELECT o_orderpriority,
       |  CAST(sum(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_live,
       |  CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_deleted,
       |  sum(CASE WHEN op <> 'D' THEN cents ELSE 0 END) / 100.0
       |    AS live_value,
       |  bit_xor(CASE WHEN op <> 'D' THEN
       |    CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || '|' ||
       |      CAST(cents AS VARCHAR)), 1, 15) AS BIGINT) ELSE 0 END)
       |    AS fingerprint
       |FROM ap GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  }

  // =====================================================================
  // q123: blocked entity resolution (multi-pass blocking + fuzzy match)
  // =====================================================================

  /** Entity resolution with blocking — the dedup-across-sources shape:
    * match a dirty feed (customer names with a deterministic md5-chosen
    * 30% carrying a one-digit typo — derive-messy-from-clean, so ground
    * truth exists per row) against the clean registry WITHOUT ever
    * comparing all pairs. Candidates come from NINE deletion-
    * neighborhood blocking passes over the name's 9-digit tail (the
    * FastSS / 1-deletion-variant family, Bocek et al. 2007): key p
    * drops position p and keeps the other eight digits. A single-
    * character substitution lands at exactly one position, so the key
    * dropping it matches exactly — recall is 100% by pigeonhole, the
    * q44 band argument. The round-12 sweep measured WHY this beats the
    * earlier two-key parity split (BASELINE.md, the 47× incident): a
    * structured id space whose cross-copy entropy concentrates in ONE
    * position collapses every key that ignores that position, and a
    * parity key ignores half the positions — its blocks then square.
    * A deletion key ignores a SINGLE position, so any one entropy
    * position is retained by 8 of the 9 keys, and the one collapsed
    * key's blocks still carry the other eight digits of entropy —
    * block width is bounded by the id-space twin count, never by a
    * positional class. The candidate SET is unchanged (both schemes
    * admit exactly the dist≤1 pairs — here every blocked pair agrees
    * on 8 of 9 digits, so the ≤1 filter is a proof, not a prune);
    * only the worst-case block geometry improves. Verification is
    * `levenshtein` (both engines ship the classic integer DP); best
    * match per dirty row by (distance, clean key) — deterministic, and
    * deliberately able to pick a WRONG neighbor at distance 1 (adjacent
    * registry names differ by one digit too), which the census reports
    * honestly instead of hiding. Matching never touches the true key;
    * the key only scores the outcome. */
  /** Shared derive-messy-from-clean customer feed (q123 blocking ⋈
    * q231 sorted neighborhood — one feed, two matchers, comparable
    * censuses): a deterministic md5-chosen 30% of names carry a
    * one-digit typo at an md5-chosen tail position, so ground truth
    * exists per row. Shared Scala helper AND shared mirror CTE (the
    * q194 discipline) so the two matchers cannot drift apart on what
    * they match. */
  private[graft] def messyCustomers(clean: DataFrame): DataFrame = {
    def h(salt: String): Column =
      conv(substring(md5(concat(lit(salt), $"c_custkey".cast("string"))),
        1, 8), 16, 10).cast("long")
    // one-digit typo at md5-chosen tail position, md5-chosen new digit
    val pos = (h("ep") % 9 + 10).cast("int")
    val newDigit = ((ascii(substring($"c_name", pos, lit(1))) - 48 +
      (h("ec") % 9) + 1) % 10 + 48).cast("int")
    clean.select(
      $"c_custkey".as("true_key"),
      (h("er") % 10 < 3).as("typo"),
      when(h("er") % 10 < 3,
        concat($"c_name".substr(lit(1), pos - 1), char(newDigit),
          $"c_name".substr(pos + 1, lit(18))))
        .otherwise($"c_name").as("m_name"))
  }

  /** Mirror of [[messyCustomers]]: the m0/messy CTE pair, spliced into
    * both q123's and q231's oracle SQL. */
  private[graft] val messyCustomersSqlCte: String = {
    def h(salt: String) =
      s"CAST('0x' || substring(md5('$salt' || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT)"
    s"""m0 AS (SELECT c_custkey AS true_key, c_name,
       |    CAST(${h("ep")} % 9 + 10 AS INT) AS pos,
       |    CAST((ascii(substring(c_name, CAST(${h("ep")} % 9 + 10 AS INT), 1))
       |      - 48 + (${h("ec")} % 9) + 1) % 10 + 48 AS INT) AS nd,
       |    (${h("er")} % 10 < 3) AS typo
       |  FROM customer),
       |messy AS (SELECT true_key, typo,
       |    CASE WHEN typo THEN substring(c_name, 1, pos - 1) || chr(nd) ||
       |      substring(c_name, pos + 1, 18) ELSE c_name END AS m_name
       |  FROM m0)""".stripMargin
  }

  def q123EntityResolution(s: SparkSession, d: String): DataFrame = {
    val clean = Tables.customer(s, d).select($"c_custkey", $"c_name")
    // round 15: eager checkpoint — messy is referenced by the blocked
    // candidate build AND the final outcome join; lazily the typo
    // generation re-ran per reference
    val messy = messyCustomers(clean).select($"true_key", $"m_name")
      .localCheckpoint(true)
    def delKey(name: Column, drop: Int): Column =
      concat(lit(s"k$drop") +:
        (10 to 18).filter(_ != drop)
          .map(p => substring(name, p, 1)): _*)
    // round 15 (guide §2.3): ONE pass emitting all nine deletion keys
    // per row via explode, replacing the 9-way union that re-scanned
    // (and for messy, re-generated) its input once per arm — the same
    // (keyCols, name, bk) row multiset, since each arm's key carries
    // its own 'k<p>' prefix
    def blocks(df: DataFrame, nameCol: String, keyCols: Seq[Column]) =
      df.select(keyCols :+ col(nameCol): _*)
        .withColumn("bk",
          explode(array((10 to 18).map(p => delKey(col(nameCol), p)): _*)))
    import org.apache.spark.sql.expressions.Window
    // verify MAP-SIDE, dedup AFTER: the bounded-threshold levenshtein
    // (early-exit DP) runs on the joined stream and the ≤1 filter drops
    // ~99% of candidate pairs BEFORE the distinct's exchange — the
    // shuffle carries survivors only. (A distinct-first shape shuffles
    // every blocked pair twice as wide.)
    val cand = blocks(messy, "m_name", Seq($"true_key"))
      .join(blocks(clean, "c_name", Seq($"c_custkey")), "bk")
      .select($"true_key", $"m_name", $"c_custkey",
        levenshtein($"m_name", $"c_name", 1).as("dist"))
      .filter($"dist" >= 0 && $"dist" <= 1)
      .distinct()
    val w = Window.partitionBy($"true_key", $"m_name")
      .orderBy($"dist", $"c_custkey")
    val best = cand.select($"true_key", $"c_custkey", $"dist",
        row_number().over(w).as("rn"))
      .filter($"rn" === 1)
    // outcome taxonomy: a typo can land EXACTLY on a neighboring
    // registry name ("collision") — no name-only matcher can detect
    // that, so the census reports it as its own class rather than
    // hiding it inside "exact"
    messy.join(best, Seq("true_key"), "left")
      .select(
        when($"c_custkey".isNull, lit("unmatched"))
          .when($"c_custkey" === $"true_key" && $"dist" === 0, lit("exact"))
          .when($"c_custkey" === $"true_key", lit("fuzzy_correct"))
          .when($"dist" === 0, lit("collision"))
          .otherwise(lit("fuzzy_wrong")).as("outcome"))
      .groupBy($"outcome").agg(count(lit(1)).as("n"))
      .orderBy($"outcome")
  }

  val q123EntityResolutionSql: String = {
    def delKeySql(col: String, drop: Int): String =
      (s"'k$drop'" +: (10 to 18).filter(_ != drop)
        .map(p => s"substring($col, $p, 1)")).mkString(" || ")
    val mArms = (10 to 18)
      .map(p => s"SELECT true_key, m_name, ${delKeySql("m_name", p)} AS bk FROM messy")
      .mkString("\n  UNION ALL ")
    val cArms = (10 to 18)
      .map(p => s"SELECT c_custkey, c_name, ${delKeySql("c_name", p)} AS bk FROM customer")
      .mkString("\n  UNION ALL ")
    s"""WITH $messyCustomersSqlCte,
       |mb AS ($mArms),
       |cb AS ($cArms),
       |cand AS (SELECT DISTINCT true_key, m_name, c_custkey,
       |    levenshtein(m_name, c_name) AS dist
       |  FROM mb JOIN cb USING (bk)
       |  WHERE levenshtein(m_name, c_name) <= 1),
       |best AS (SELECT true_key, c_custkey, dist,
       |    row_number() OVER (PARTITION BY true_key, m_name
       |      ORDER BY dist, c_custkey) AS rn
       |  FROM cand),
       |oc AS (SELECT CASE
       |    WHEN b.c_custkey IS NULL THEN 'unmatched'
       |    WHEN b.c_custkey = m.true_key AND b.dist = 0 THEN 'exact'
       |    WHEN b.c_custkey = m.true_key THEN 'fuzzy_correct'
       |    WHEN b.dist = 0 THEN 'collision'
       |    ELSE 'fuzzy_wrong' END AS outcome
       |  FROM messy m LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
       |    USING (true_key))
       |SELECT outcome, count(*) AS n FROM oc
       |GROUP BY outcome ORDER BY outcome""".stripMargin
  }

  // =====================================================================
  // q121: time-decayed score (recency weighting with exact dyadic decay)
  // =====================================================================

  private val DecayTopK = 100

  /** Recency-decayed customer value — "revenue half-lifes every 4
    * weeks" — the weighting every churn/LTV model applies to history.
    * The naive formulation (SUM over rows of cents·decay^age) is a
    * float sum over unordered terms: cross-engine-nondeterministic
    * (README rule 2). This one is exact end to end:
    *   1. per-(customer, age-bucket) integer cent sums — exact,
    *      order-free;
    *   2. weight 2^−k — a pure exponent shift, so weekSum·2^−k is
    *      EXACT (mantissa unchanged; k ≥ 63 defined as weight 0);
    *   3. the ≤|buckets| weighted terms fold in FIXED age order inside
    *      one `aggregate` HOF over a sorted array — both engines run
    *      the identical correctly-rounded addition sequence.
    * The per-customer bucket relation is bounded (|customers| ×
    * calendar buckets), so the sorted-array fold is metadata-sized per
    * key — never a corpus-sized collect. */
  def q121DecayedValue(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val cents = floor($"o_totalprice" * 100.0 + 0.5).cast("long")
    // age buckets: 4-week (28-day) periods back from the corpus max day
    val withAge = o
      .crossJoin(broadcast(o.agg(
        max(datediff(to_date($"o_orderdate"), lit("1970-01-01")))
          .as("max_day"))))
      .select($"o_custkey", cents.as("cents"),
        expr("(max_day - datediff(to_date(o_orderdate), '1970-01-01')) div 28")
          .as("age_b"))
    val perBucket = withAge.groupBy($"o_custkey", $"age_b")
      .agg(sum($"cents").as("bcents"))
    perBucket
      // the exact weighted term, per bucket row: bcents · 2^−k shifts
      // only the exponent, so the double is exact
      .select($"o_custkey", $"age_b",
        ($"bcents" * expr("CASE WHEN age_b >= 63 THEN 0.0 ELSE " +
          "1.0 / shiftleft(CAST(1 AS BIGINT), CAST(age_b AS INT)) END"))
          .as("term"))
      .groupBy($"o_custkey")
      .agg(sort_array(collect_list(struct($"age_b", $"term"))).as("arr"))
      .select($"o_custkey",
        aggregate($"arr", lit(0.0), (acc, x) => acc + x.getField("term"))
          .as("raw"))
      .select($"o_custkey", ($"raw" / 100.0).as("score_raw"))
      .orderBy($"score_raw".desc, $"o_custkey")
      .limit(DecayTopK)
      .select($"o_custkey", stableRound($"score_raw", 4).as("decayed_value"))
  }

  val q121DecayedValueSql: String =
    s"""WITH mx AS (SELECT max(datediff('day', DATE '1970-01-01',
       |    CAST(o_orderdate AS DATE))) AS max_day FROM orders),
       |pb AS (SELECT o_custkey,
       |    (mx.max_day - datediff('day', DATE '1970-01-01',
       |       CAST(o_orderdate AS DATE))) // 28 AS age_b,
       |    sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS bcents
       |  FROM orders, mx GROUP BY 1, 2),
       |tm AS (SELECT o_custkey, age_b,
       |    bcents * (CASE WHEN age_b >= 63 THEN 0.0
       |              ELSE 1.0 / (1::BIGINT << CAST(age_b AS INT)) END)
       |      AS term
       |  FROM pb),
       |f AS (SELECT o_custkey,
       |    list_sum(list_transform(
       |      list_sort(list(struct_pack(age_b := age_b, term := term))),
       |      x -> x.term)) AS raw
       |  FROM tm GROUP BY o_custkey)
       |SELECT o_custkey,
       |  ${sqlRound("raw / 100.0", 4)} AS decayed_value
       |FROM f ORDER BY raw / 100.0 DESC, o_custkey LIMIT $DecayTopK""".stripMargin

  private val HistBuckets = 20L

  /** Equi-width value histogram — the distribution profile behind every
    * data-card "price distribution" panel. Two passes, both bounded:
    * one aggregation for the exact global cent-grid min/max (a 1-row
    * relation, broadcast back), one scan assigning each row its bucket
    * by pure integer arithmetic (`(cents−min)·B div span`, clamped to
    * B−1 so max lands in the last bucket) and aggregating the ≤
    * flag×B-row census. No sort anywhere; both engines run the same
    * integer division on positive operands. */
  def q115Histogram(s: SparkSession, d: String): DataFrame = {
    val cents = floor($"l_extendedprice" * 100.0 + 0.5).cast("long")
    val li = Tables.lineitem(s, d).select($"l_returnflag", cents.as("cents"))
    val bounds = li.agg(min($"cents").as("minc"), max($"cents").as("maxc"))
    li.crossJoin(broadcast(bounds))
      .select($"l_returnflag", $"minc", $"maxc",
        least(expr(s"(cents - minc) * $HistBuckets div (maxc - minc + 1)"),
          lit(HistBuckets - 1)).as("bucket"))
      .groupBy($"l_returnflag", $"bucket")
      .agg(count(lit(1)).as("n"),
        max($"minc").as("minc"), max($"maxc").as("maxc"))
      .select($"l_returnflag", $"bucket", $"n",
        (expr(s"minc + bucket * (maxc - minc + 1) div $HistBuckets") / 100.0)
          .as("lo_approx"))
      .orderBy($"l_returnflag", $"bucket")
  }

  val q115HistogramSql: String =
    s"""WITH li AS (SELECT l_returnflag,
       |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
       |  FROM lineitem),
       |b AS (SELECT min(cents) AS minc, max(cents) AS maxc FROM li),
       |bu AS (SELECT l_returnflag, minc, maxc,
       |    least((cents - minc) * $HistBuckets // (maxc - minc + 1),
       |          $HistBuckets - 1) AS bucket
       |  FROM li CROSS JOIN b)
       |SELECT l_returnflag, bucket, count(*) AS n,
       |  (min(minc) + bucket * (min(maxc) - min(minc) + 1)
       |    // $HistBuckets) / 100.0 AS lo_approx
       |FROM bu GROUP BY l_returnflag, bucket
       |ORDER BY l_returnflag, bucket""".stripMargin

  // =====================================================================
  // q116: MAD robust outliers (median absolute deviation)
  // =====================================================================

  private val MadK = 3L

  /** Robust outlier detection by median absolute deviation — the
    * z-score's (q90) resistant sibling: median and MAD don't move when
    * the outliers themselves get worse, so heavy-tailed telemetry
    * doesn't inflate its own threshold. Both medians run the q85/q69
    * exact-histogram order statistic: aggregate to the bounded cent-
    * grid histogram, order-stat the HISTOGRAM, never sort rows. Two
    * corpus scans total (value histogram; deviation histogram with the
    * 1-row-per-type medians broadcast back); the outlier census comes
    * from the deviation HISTOGRAM itself — no third scan. Flags use
    * `dev > K·MAD` in exact integer cents. */
  def q116MadOutliers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byType = Window.partitionBy($"event_type")
    def histMedian(rows: DataFrame, valCol: String): DataFrame =
      rows.groupBy($"event_type", col(valCol)).agg(count(lit(1)).as("c"))
        .select($"event_type", col(valCol), $"c",
          sum($"c").over(byType.orderBy(col(valCol))).as("cum"),
          sum($"c").over(byType).as("n"))
        .groupBy($"event_type")
        .agg(max($"n").as("n"),
          min(when($"cum" * 2 >= $"n", col(valCol))).as("median"))
    val ev = Tables.events(s, d).select($"event_type",
      floor($"value" * 100.0 + 0.5).cast("long").as("cents"))
    val med = histMedian(ev, "cents")
      .select($"event_type", $"n", $"median".as("med_cents"))
    val devs = ev.join(broadcast(med), "event_type")
      .select($"event_type", abs($"cents" - $"med_cents").as("dev"))
    val devHist = devs.groupBy($"event_type", $"dev").agg(count(lit(1)).as("c"))
    val mad = devHist
      .select($"event_type", $"dev", $"c",
        sum($"c").over(byType.orderBy($"dev")).as("cum"),
        sum($"c").over(byType).as("n"))
      .groupBy($"event_type")
      .agg(min(when($"cum" * 2 >= $"n", $"dev")).as("mad_cents"))
    devHist.join(broadcast(mad), "event_type")
      .groupBy($"event_type")
      .agg(sum(when($"dev" > $"mad_cents" * MadK, $"c").otherwise(0L))
        .as("n_outliers"),
        max($"mad_cents").as("mad_cents"))
      .join(med, "event_type")
      .select($"event_type", $"n",
        ($"med_cents" / 100.0).as("median_value"),
        ($"mad_cents" / 100.0).as("mad_value"),
        $"n_outliers")
      .orderBy($"event_type")
  }

  val q116MadOutliersSql: String =
    s"""WITH ev AS (SELECT event_type,
       |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
       |  FROM events),
       |h1 AS (SELECT event_type, cents, count(*) AS c
       |  FROM ev GROUP BY 1, 2),
       |s1 AS (SELECT event_type, cents, c,
       |    sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
       |    sum(c) OVER (PARTITION BY event_type) AS n
       |  FROM h1),
       |med AS (SELECT event_type, max(n) AS n,
       |    min(CASE WHEN cum * 2 >= n THEN cents END) AS med_cents
       |  FROM s1 GROUP BY event_type),
       |dh AS (SELECT e.event_type, abs(e.cents - m.med_cents) AS dev,
       |    count(*) AS c
       |  FROM ev e JOIN med m USING (event_type) GROUP BY 1, 2),
       |s2 AS (SELECT event_type, dev, c,
       |    sum(c) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
       |    sum(c) OVER (PARTITION BY event_type) AS n
       |  FROM dh),
       |mad AS (SELECT event_type,
       |    min(CASE WHEN cum * 2 >= n THEN dev END) AS mad_cents
       |  FROM s2 GROUP BY event_type),
       |fl AS (SELECT d.event_type,
       |    CAST(sum(CASE WHEN d.dev > $MadK * a.mad_cents THEN d.c
       |             ELSE 0 END) AS BIGINT) AS n_outliers,
       |    max(a.mad_cents) AS mad_cents
       |  FROM dh d JOIN mad a USING (event_type) GROUP BY d.event_type)
       |SELECT m.event_type, CAST(m.n AS BIGINT) AS n,
       |  m.med_cents / 100.0 AS median_value,
       |  f.mad_cents / 100.0 AS mad_value, f.n_outliers
       |FROM med m JOIN fl f USING (event_type)
       |ORDER BY m.event_type""".stripMargin

  // =====================================================================
  // q113: declarative constraint audit (data-quality gate)
  // =====================================================================

  /** One-pass data-quality gate — the acceptance check a pipeline runs
    * before promoting a landed batch: primary-key uniqueness,
    * referential integrity, domain ranges, enum membership, and
    * NOT-NULL checks, each as a violation COUNT (never a row dump — the
    * report stays bounded at any corpus size). Mixed by design: some
    * constraints genuinely fire on this data (negative account
    * balances), most pass — a gate that can only say "pass" proves
    * nothing. Shapes: uniqueness is the q19 two-level rewrite (keys
    * collapse map-side); orphans are a LEFT ANTI join on the join key
    * both tables already shuffle on; ranges/enums/nulls ride single
    * scans as conditional sums. */
  def q113ConstraintAudit(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val pkDups = Tables.orders(s, d)
      .groupBy($"o_orderkey").agg(count(lit(1)).as("n"))
      .filter($"n" > 1)
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_violations"))
      .select(lit("orders_pk_unique").as("constraint_name"),
        lit("orders").as("table_name"), $"n_violations")
    val orphans = li
      .join(Tables.orders(s, d).select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey", "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("lineitem_fk_orders").as("constraint_name"),
        lit("lineitem").as("table_name"), $"n_violations")
    val qtyRange = li
      .agg(sum(when($"l_quantity" < 1.0 || $"l_quantity" > 50.0, 1L)
        .otherwise(0L)).as("n_violations"))
      .select(lit("lineitem_qty_range").as("constraint_name"),
        lit("lineitem").as("table_name"), $"n_violations")
    val flagEnum = li
      .agg(sum(when(!$"l_returnflag".isin("A", "N", "R"), 1L)
        .otherwise(0L)).as("n_violations"))
      .select(lit("lineitem_flag_enum").as("constraint_name"),
        lit("lineitem").as("table_name"), $"n_violations")
    val acctbal = Tables.customer(s, d)
      .agg(sum(when($"c_acctbal" < 0.0, 1L).otherwise(0L))
        .as("n_violations"))
      .select(lit("customer_acctbal_nonneg").as("constraint_name"),
        lit("customer").as("table_name"), $"n_violations")
    val textNn = Tables.documents(s, d)
      .agg(sum(when($"text".isNull, 1L).otherwise(0L)).as("n_violations"))
      .select(lit("documents_text_notnull").as("constraint_name"),
        lit("documents").as("table_name"), $"n_violations")
    Seq(pkDups, orphans, qtyRange, flagEnum, acctbal, textNn)
      .reduce(_.union(_))
      .select($"constraint_name", $"table_name", $"n_violations",
        ($"n_violations" === 0L).as("pass"))
      .orderBy($"constraint_name")
  }

  val q113ConstraintAuditSql: String =
    """WITH a AS (
      |  SELECT 'orders_pk_unique' AS constraint_name, 'orders' AS table_name,
      |    (SELECT count(*) FROM (SELECT o_orderkey FROM orders
      |      GROUP BY 1 HAVING count(*) > 1)) AS n_violations
      |  UNION ALL
      |  SELECT 'lineitem_fk_orders', 'lineitem',
      |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |  UNION ALL
      |  SELECT 'lineitem_qty_range', 'lineitem',
      |    (SELECT count(*) FROM lineitem
      |     WHERE l_quantity < 1.0 OR l_quantity > 50.0)
      |  UNION ALL
      |  SELECT 'lineitem_flag_enum', 'lineitem',
      |    (SELECT count(*) FROM lineitem
      |     WHERE l_returnflag NOT IN ('A', 'N', 'R'))
      |  UNION ALL
      |  SELECT 'customer_acctbal_nonneg', 'customer',
      |    (SELECT count(*) FROM customer WHERE c_acctbal < 0.0)
      |  UNION ALL
      |  SELECT 'documents_text_notnull', 'documents',
      |    (SELECT count(*) FROM documents WHERE text IS NULL))
      |SELECT constraint_name, table_name,
      |  CAST(n_violations AS BIGINT) AS n_violations,
      |  (n_violations = 0) AS pass
      |FROM a ORDER BY constraint_name""".stripMargin

  // ---------------------------------------------------------------
  // q189: triangle census with degree-ordered orientation
  // ---------------------------------------------------------------

  /** Triangle census over the part co-purchase graph — the graph-
    * analytics operator class beyond q110's pagerank: parts are nodes,
    * co-occurrence in an order is an edge, and the triangle count is
    * the clustering signal a recommender or community detector reads.
    *
    * Scale: the textbook degree-ordered orientation (Chiba–Nishizeki /
    * Schank–Wagner, public): every edge orients from its lower
    * (degree, id) endpoint to the higher, which bounds every out-list
    * by O(√E) regardless of hub degree — wedges are Σ outdeg², NOT
    * Σ deg², so the hub that breaks the naive algorithm cannot
    * explode here. Each triangle is then counted EXACTLY once (at its
    * minimum vertex) by closing oriented wedges against oriented
    * edges — two hash equi-joins, no global sort. The orientation is
    * a LEXICOGRAPHIC pairwise comparison on (degree, id) — no packed
    * key, so there is no id-width ceiling and no per-row guard; any id
    * a BIGINT can hold orients correctly. (The DuckDB mirror keeps its
    * packed okey form — rule 9 applies there, where the generator's
    * bounded ids fit.)
    *
    * Determinism: pure integer counts end to end; edge fan-out is
    * bounded by order basket size at the co-occurrence join. Output is
    * the 4-row (metric, value) census assembled by UNION ALL — no
    * 1-row cross-join needed. */
  /** Per-order distinct-part fan-in bound for the co-purchase
    * self-join: the pair build squares basket size, so ONE 10⁵-part
    * mega-basket at 100 TB turns into 10¹⁰ rows while every honest
    * basket stays ≤ a few dozen (TPC-H ≤ 7). Up to [[CoBasketCap]]
    * the square is ≤ 16.8M rows — loud in a profile, harmless to the
    * job; beyond it the build REFUSES per row (the LSH family caps the
    * same shape silently at MaxBucket 64 because near-dup candidates
    * tolerate truncation — a graph census does not, so the graph
    * family fails loudly instead of silently dropping edges). A
    * deployment with genuinely wider baskets raises the constant
    * consciously. */
  private[graft] val CoBasketCap = 4096L

  /** The guarded distinct (order, pa < pb) co-occurrence pair stream —
    * the ONE copy of the basket self-join behind [[coEdges]] (q189
    * family) and [[coEdgesWeighted]] (q282), so the fan-in guard
    * cannot drift between the two (round-12 verdict item 4). The
    * basket-size window shares the self-join's l_orderkey exchange. */
  private[graft] def basketPairs(li0: DataFrame): DataFrame = {
    // Round 16 (guide §2.3 "aggregate before you shuffle", §2.4):
    // the original shape was distinct(order, part) → window count
    // guard → self-join on l_orderkey — three exchanges and a
    // SortMergeJoin before the first pair exists. Baskets are
    // ≤ CoBasketCap by the guard, so the whole basket FITS IN ONE ROW:
    // one partial-aggregating collect_set per order (a single
    // exchange carrying each distinct (order, part) once), then the
    // pa < pb pairs generate BY CONSTRUCTION from the sorted distinct
    // array — no join, no window. Output multiset is identical: one
    // row per (order, unordered distinct part pair), pa < pb (the
    // sorted array makes every i<j slice pair strictly increasing).
    // The fan-in guard is the same condition at the same grain
    // (distinct parts per order), enforced before any pair is built.
    val baskets = li0.select($"l_orderkey", $"l_partkey")
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("parts"))
    val guarded = baskets.select($"l_orderkey",
      when(size($"parts") > CoBasketCap,
        raise_error(concat(
          lit("basketPairs: order "), $"l_orderkey",
          lit(s" holds more than $CoBasketCap distinct parts — the " +
            "co-purchase pair build would square it; raise " +
            "CoBasketCap consciously for wider baskets"))))
        .otherwise($"parts").as("parts"))
    guarded
      .select($"l_orderkey", $"parts",
        posexplode($"parts").as(Seq("i", "pa")))
      .select($"l_orderkey", $"pa",
        explode(slice($"parts", $"i" + lit(2),
          size($"parts") - $"i" - lit(1))).as("pb"))
      .select($"l_orderkey", $"pa", $"pb")
  }

  /** The distinct part co-purchase edge list (pa < pb) — shared by the
    * exact census (q189) and the sampling estimator (q194). */
  private def coEdges(s: SparkSession, d: String): DataFrame =
    basketPairs(Tables.lineitem(s, d))
      .select($"pa", $"pb").distinct()

  /** The co-purchase edge list, STAGED (the LSH-stage discipline
    * applied to the graph family): eight queries (q189, q194, q197,
    * q225, q228, q238, q239, q250) consume this one relation, and the
    * basket self-join + two distincts behind it are the dominant
    * rebuild cost at every scale — materialize once per corpus, read
    * everywhere. Measured at sf0.1 (reps 3): edge stage alone takes
    * the graph-family total 33.7 s → 25.4 s (the edge build is paid
    * once instead of 8×; pure consumers halve: q197 2.84→1.15,
    * q228 2.49→1.24, q194 3.19→1.83, q250 1.20→0.75); with the
    * oriented/triangle stages on top, 14.6 s. The stage-path fingerprint
    * covers documents.parquet only, so lineitem's identity (the edge
    * list's true input) rides in the token alongside the plan hash. */
  private def coEdgesStaged(s: SparkSession, d: String): DataFrame = {
    val df = coEdges(s, d)
    Staged.orCompute(s, d, "graph", "co_edges",
      Staged.combine(Staged.planHash(df), lineitemFp(d)))(df)
  }

  private def lineitemFp(d: String): String = {
    val p = java.nio.file.Paths.get(d, "lineitem.parquet")
    if (java.nio.file.Files.exists(p))
      s"${java.nio.file.Files.size(p)}-${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
    else "noli"
  }

  /** Degree-ordered orientation + wedge closing over an edge list —
    * the shared engine of q189 (exact) and q194 (sampled graph).
    * Returns (deg, ed, wedges, tri) — ed is the oriented edge list
    * (u, v, kv) the staged variants materialize. */
  private def triangleParts(edges: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (deg, ed) = orientationOf(edges)
    val (wedges, tri) = wedgeClose(ed)
    (deg, ed, wedges, tri)
  }

  /** Degree-ordered orientation alone — (deg, ed) without building
    * the wedge-closing machinery. Split from [[triangleParts]] in
    * round 16: [[wedgeClose]] now runs two small driver actions (edge
    * count + Bloom build), which callers that only want the oriented
    * relation (orientedStaged and its token) must not pay. */
  private[graft] def orientationOf(edges: DataFrame)
      : (DataFrame, DataFrame) = {
    val deg = edges.select(explode(array($"pa", $"pb")).as("p"))
      .groupBy($"p").agg(count(lit(1)).as("deg"))
    // Degree-ordered orientation WITHOUT a packed key (round-13
    // pack-key audit: this was the widest remaining 2³² ceiling). The
    // (deg, id) total order here is only ever COMPARED pairwise —
    // never fed to a min/max aggregate, where README rule 9 would
    // mandate the single-integer pack — so the oriented relation
    // carries deg(v) as its own column and every comparison is the
    // lexicographic (deg, id) pair: no shift to overflow, no per-row
    // guard, ids and degrees wide as BIGINT itself. Payload is
    // unchanged — (u, v, dv) is three BIGINTs, v is its own
    // tie-break — and the DuckDB mirrors keep their packed okey
    // (BIGINT·2³² + id), which induces the identical order at every
    // oracle scale.
    val aLess = $"da" < $"db" || ($"da" === $"db" && $"pa" < $"pb")
    val ed = edges
      .join(deg.select($"p".as("pa"), $"deg".as("da")), "pa")
      .join(deg.select($"p".as("pb"), $"deg".as("db")), "pb")
      .select(
        when(aLess, $"pa").otherwise($"pb").as("u"),
        when(aLess, $"pb").otherwise($"pa").as("v"),
        when(aLess, $"db").otherwise($"da").as("dv"))
    (deg, ed)
  }

  /** The Σ outdeg² wedge build + closing join over an oriented edge
    * list (u, v, dv) → (wedges, tri) — the ONE copy of the census's
    * dominant join, shared by [[triangleParts]] (exact q189 shape,
    * sampled q194, crafted specs) and [[trianglesStaged]] (the live
    * staged path), so an edit to the join cannot silently diverge
    * between the spec-tested and the oracled path (round-11 advice).
    *
    * Round 16: TWO closing strategies producing the IDENTICAL triangle
    * multiset — (u,v,w) is a triangle iff (u,v), (u,w), (v,w) are all
    * oriented edges, and (v,w) ∈ ed already implies the (dv,v) < (dw,w)
    * wedge order, so both forms emit each triangle exactly once.
    *
    *  - `adjacencyClose = false` (default): the original wedge join +
    *    closing join. Right for SMALL edge lists, where the extra
    *    aggregate and joins of the adjacency form cost more in AQE
    *    stage-materialization jobs than the wedge stream costs to
    *    generate (measured: k-truss rounds 2-3 run on ~29k survivor
    *    edges; the adjacency form there regressed q279 14.6 → 17.1 s
    *    while winning 3x at corpus grain).
    *  - `adjacencyClose = true`: compact-forward (Latapy 2008,
    *    public) — per oriented edge (u,v) the closing corners are
    *    array_intersect(N⁺(u), N⁺(v)) over O(√E)-bounded adjacency
    *    arrays (the orientation bounds out-degree; max 97 at sf0.1).
    *    NO Σ outdeg² wedge row is materialized or shuffled. Probe
    *    attributed ~15 of the staged tri build's ~18 s to generating
    *    + shuffling the 41.1 M-row wedge stream (4.6% survivors) for
    *    1.196 M edges; a Bloom pre-filter on the closing key (guide
    *    §3.2) saved only the shuffle+sort (18.7 → 14.7 s), proving
    *    the generation itself was the whale — hence the algorithm
    *    change (guide §1.2 step 1), used on the corpus-grain staged
    *    path ([[trianglesStaged]]: 18.7 → 6.4 s cold). */
  private[graft] def wedgeClose(ed: DataFrame,
      adjacencyClose: Boolean = false): (DataFrame, DataFrame) = {
    val wedges = ed.select($"u", $"v", $"dv")
      .join(ed.select($"u", $"v".as("w"), $"dv".as("dw")), Seq("u"))
      .filter($"dv" < $"dw" || ($"dv" === $"dw" && $"v" < $"w"))
      .select($"u", $"v", $"w")
    val tri =
      if (adjacencyClose) {
        val adj = ed.groupBy($"u")
          .agg(sort_array(collect_list($"v")).as("nbrs"))
        ed.select($"u", $"v")
          .join(adj.select($"u", $"nbrs".as("nu")), Seq("u"))
          .join(adj.select($"u".as("av"), $"nbrs".as("nv")), $"v" === $"av")
          .select($"u", $"v",
            explode(array_intersect($"nu", $"nv")).as("w"))
      } else {
        wedges
          .join(ed.select($"u".as("cv"), $"v".as("cw")),
            $"v" === $"cv" && $"w" === $"cw")
          .select($"u", $"v", $"w")
      }
    (wedges, tri)
  }

  /** The vertex-degree relation of an edge list — one explode + one
    * map-side-combinable aggregate (shared by q189's census and q238's
    * coefficient denominator). */
  private def degOf(edges: DataFrame): DataFrame =
    edges.select(explode(array($"pa", $"pb")).as("p"))
      .groupBy($"p").agg(count(lit(1)).as("deg"))

  /** Token of the co-edge stage, spliced into every downstream graph
    * stage's token (a parquet scan's canonicalized plan shows no path,
    * so transitive invalidation is explicit — the pairsToken
    * discipline). */
  private def coEdgesToken(s: SparkSession, d: String): String =
    Staged.combine(Staged.planHash(coEdges(s, d)), lineitemFp(d))

  /** The degree-ordered ORIENTED edge list (u, v, dv), staged: the
    * orientation (degree aggregate + two key joins, lexicographic
    * (deg, id) order) runs once per corpus; q189's wedge count and the triangle
    * stage read it back. Its plan hash sees the orientation
    * expressions over the staged co-edge scan, so orientation edits
    * invalidate it; the co-edge token carries input/edge-derivation
    * changes. */
  private def orientedStaged(s: SparkSession, d: String): DataFrame = {
    val ed = orientationOf(coEdgesStaged(s, d))._2
    Staged.orCompute(s, d, "graph", "oriented",
      Staged.combine(Staged.planHash(ed), coEdgesToken(s, d)))(ed)
  }

  private def orientedToken(s: SparkSession, d: String): String =
    Staged.combine(
      Staged.planHash(orientationOf(coEdgesStaged(s, d))._2),
      coEdgesToken(s, d))

  /** The closed triangle relation (u, v, w — u the degree-min corner),
    * staged: the Σ outdeg² wedge-closing join — the single most
    * expensive graph derivation — runs once per corpus instead of once
    * per consumer (q189 counts it, q238 explodes per-corner credit).
    * Measured at sf0.1 (reps 3, beside the co-edge/oriented stages):
    * q189 7.7 → 2.0 s, q238 9.8 → 1.7 s; graph-family total
    * 33.7 → 14.6 s. */
  private def trianglesStaged(s: SparkSession, d: String): DataFrame = {
    val tri = wedgeClose(orientedStaged(s, d), adjacencyClose = true)._2
    Staged.orCompute(s, d, "graph", "tri",
      Staged.combine(Staged.planHash(tri), orientedToken(s, d)))(tri)
  }

  /** An iterative operator's eagerly taken census as its result: one
    * local (metric, value) row per metric, in metric order. */
  private[graft] def censusFrame(s: SparkSession,
      rows: Seq[(String, Long)]): DataFrame =
    s.createDataFrame(rows.sortBy(_._1)).toDF("metric", "value")

  private def censusRow(name: String, df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("value"))
      .select(lit(name).as("metric"), $"value")

  def q189Triangles(s: SparkSession, d: String): DataFrame = {
    val edges = coEdgesStaged(s, d)
    // n_wedges by the closed form Σ_u C(outdeg(u), 2) over the staged
    // oriented edges — each u's oriented neighbors have distinct
    // (dv, v) order pairs and (u,v) rows are unique, so exactly one
    // ordering of every neighbor pair passes the lexicographic
    // comparison. Counting the wedge JOIN would
    // materialize the Σ outdeg² relation just to count it; the
    // identity reads |E| rows instead. c(c−1) is even, div exact.
    val wedgeCount = orientedStaged(s, d)
      .groupBy($"u").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("value"))
      .select(lit("n_wedges").as("metric"), $"value")
    censusRow("n_edges", edges)
      .unionByName(censusRow("n_nodes", degOf(edges)))
      .unionByName(censusRow("n_triangles", trianglesStaged(s, d)))
      .unionByName(wedgeCount)
      .orderBy($"metric")
  }

  /** The orientation/wedge/closing CTE chain over an `edges` CTE the
    * caller defines — ONE template generates both the q189 and q194
    * mirrors so the estimator's machinery cannot drift from the exact
    * census it estimates. */
  // AS MATERIALIZED throughout the graph mirrors: DuckDB inlines CTE
  // references by default, and deg/ed/wedges/edges0 are each
  // referenced several times — inlining re-evaluates the whole edge
  // build per reference (identical values, multiplied cost)
  private def triangleCtesSql: String =
    """deg AS MATERIALIZED (SELECT p, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT pa AS p FROM edges UNION ALL SELECT pb FROM edges)
      |  GROUP BY p),
      |dk AS MATERIALIZED (SELECT p, deg * 4294967296 + p AS okey FROM deg),
      |ed AS MATERIALIZED (SELECT
      |    CASE WHEN ka.okey < kb.okey THEN e.pa ELSE e.pb END AS u,
      |    CASE WHEN ka.okey < kb.okey THEN e.pb ELSE e.pa END AS v,
      |    CASE WHEN ka.okey < kb.okey THEN kb.okey ELSE ka.okey END AS kv
      |  FROM edges e
      |  JOIN dk ka ON ka.p = e.pa
      |  JOIN dk kb ON kb.p = e.pb),
      |wedges AS MATERIALIZED (SELECT a.u, a.v, b.v AS w
      |  FROM ed a JOIN ed b USING (u) WHERE a.kv < b.kv),
      |tri AS MATERIALIZED (SELECT x.u, x.v, x.w FROM wedges x
      |  JOIN ed c ON c.u = x.v AND c.v = x.w)""".stripMargin

  private val coEdgesSql: String =
    """li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |edges0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM li a JOIN li b USING (l_orderkey)
      |  WHERE a.l_partkey < b.l_partkey)""".stripMargin

  val q189TrianglesSql: String =
    s"""WITH $coEdgesSql,
       |edges AS (SELECT pa, pb FROM edges0),
       |$triangleCtesSql
       |SELECT metric, CAST(value AS BIGINT) AS value FROM (
       |  SELECT 'n_edges' AS metric, count(*) AS value FROM edges
       |  UNION ALL SELECT 'n_nodes', count(*) FROM deg
       |  UNION ALL SELECT 'n_triangles', count(*) FROM tri
       |  UNION ALL SELECT 'n_wedges', count(*) FROM wedges)
       |ORDER BY metric""".stripMargin

  // ---------------------------------------------------------------
  // q194: sampled triangle estimation (DOULION edge sparsification)
  // ---------------------------------------------------------------

  /** Edge-sampling keep predicate: an edge survives iff the md5 of its
    * "pa_pb" key starts below '2' — first hex digit ∈ {0, 1}, an exact
    * deterministic p = 1/8 both engines (string compare on identical
    * lowercase hex). */
  private val TriSampleHexCut = "2"
  private val TriSampleInvP = 8L

  /** DOULION sampled triangle estimation (Tsourakakis et al., KDD
    * 2009, public) — the CHEAP answer to the triangle question q189
    * answers exactly: sparsify the edge list by a deterministic
    * hash-coin with keep probability p = 1/[[TriSampleInvP]], run the
    * SAME degree-ordered census on the surviving graph, and scale the
    * sampled triangle count by 1/p³ (each triangle survives iff its
    * three edges all do). The wedge join — the exact census's
    * dominant cost — shrinks by ~p², which is precisely the trade a
    * monitoring pipeline wants when the clustering signal needs a
    * refresh every hour but the exact count only monthly.
    *
    * Determinism: the coin is md5 of the edge key (identical
    * lowercase hex both engines, README q79/q167 idiom) compared to a
    * hex-prefix cut — an exact 1/8, no RNG; every census value is an
    * exact integer and the estimate an exact integer multiple.
    *
    * Scale: the sample filter is a scan-level predicate on the edge
    * relation (no new shuffle); everything downstream inherits q189's
    * bounds on a graph ~p as large (out-lists O(√(pE)), wedges
    * Σ outdeg² ≈ p² of exact). The estimator's relative error decays
    * as 1/√(p³·T) — at 100 TB graph scale T is astronomically large,
    * exactly where the variance argument is strongest. */
  def q194TriangleSample(s: SparkSession, d: String): DataFrame = {
    val edges = coEdgesStaged(s, d)
    val sampled = edges.filter(
      md5(concat($"pa".cast("string"), lit("_"), $"pb".cast("string")))
        < TriSampleHexCut)
    val (_, _, wedgesS, triS) = triangleParts(sampled)
    val est = triS.agg(count(lit(1)).as("n"))
      .select(lit("est_triangles").as("metric"),
        ($"n" * lit(TriSampleInvP * TriSampleInvP * TriSampleInvP))
          .as("value"))
    censusRow("n_edges_total", edges)
      .unionByName(censusRow("n_edges_sampled", sampled))
      .unionByName(censusRow("n_wedges_sampled", wedgesS))
      .unionByName(censusRow("n_triangles_sampled", triS))
      .unionByName(est)
      .orderBy($"metric")
  }

  // ---------------------------------------------------------------
  // q197: k-core peeling (3 unrolled rounds, the q110/q191 pattern)
  // ---------------------------------------------------------------

  // k sits above the co-order graph's median degree (~90–120 across
  // SFs), so the peel CASCADES at every scale factor — round traces
  // like 1.196M → 863k → 443k → 7.5k edges at sf0.1; a small k would
  // leave the dense graph untouched and the oracle row would never
  // exercise a removal
  private val KCoreK = 100L
  private val KCoreRounds = 3

  /** k-core decomposition by iterative peeling (Seidman 1983;
    * Batagelj–Zaveršnik, public) — the community-density operator
    * beside the census (q189), the estimator (q194), and pagerank
    * (q110): repeatedly delete every node of degree < [[KCoreK]] and
    * every edge touching one, until the surviving subgraph (the
    * k-core) is stable. [[KCoreRounds]] unrolled rounds (the fixed-
    * iteration q110/q191 pattern), reporting the surviving node/edge
    * counts after each — the shrinkage trace a recommender or
    * community detector reads to pick k.
    *
    * Determinism: pure integer degree counts and semi joins.
    *
    * Scale: each round is one map-side-combinable degree aggregate
    * plus two semi joins on the entropy-rich part-id key, and the
    * graph only SHRINKS round over round — no transitive closure, no
    * frontier state; at 100 TB each round costs at most one pass over
    * the current edge set, the standard distributed-peel shape. Each
    * round's edge set and degree relation are one
    * [[Blocks.generations]] generation, filled by the round's census
    * (one aggregate over the degree relation) before the next round
    * reads them; without the caches the re-evaluation doubles per
    * round (the measured 80 s cliff at sf0.1). The mirror pins the
    * same shape with AS MATERIALIZED. */
  def q197KCore(s: SparkSession, d: String): DataFrame =
    kCoreTrace(coEdgesStaged(s, d), KCoreK)

  /** The peel loop over an arbitrary (pa, pb) edge list — split from
    * [[q197KCore]] so the crafted spec can drive a small graph with a
    * small k. */
  private[graft] def kCoreTrace(edges0: DataFrame, k: Long): DataFrame = {
    // the degree relation is the round's census (nodes = its rows,
    // edges = Σdeg/2) and the next round's alive set
    val census = Blocks.generations { gens =>
      var e = edges0
      var deg: DataFrame = null
      (0 to KCoreRounds).flatMap { r =>
        if (r > 0) {
          val alive = deg.filter($"deg" >= k).select($"p")
          e = e
            .join(alive.withColumnRenamed("p", "pa"), Seq("pa"), "leftsemi")
            .join(alive.withColumnRenamed("p", "pb"), Seq("pb"), "leftsemi")
            .select($"pa", $"pb")
        }
        e = gens.keep(e)
        deg = gens.keep(e.select(explode(array($"pa", $"pb")).as("p"))
          .groupBy($"p").agg(count(lit(1)).as("deg")))
        val row = gens.fill(s"kcore round $r: census (degree agg)") {
          deg.agg(count(lit(1)), coalesce(sum($"deg"), lit(0L))).head()
        }
        Seq(s"r${r}_nodes" -> row.getLong(0),
          s"r${r}_edges" -> row.getLong(1) / 2)
      }
    }
    censusFrame(edges0.sparkSession, census)
  }

  val q197KCoreSql: String = {
    // AS MATERIALIZED: without it DuckDB inlines every CTE reference
    // and the per-round double-reference re-evaluates the whole edge
    // build 2^rounds times (same cliff the Spark side persists away)
    val rounds = (1 to KCoreRounds).map { i =>
      val prev = if (i == 1) "edges0" else s"e${i - 1}"
      s"""alive$i AS MATERIALIZED (SELECT p FROM (
         |    SELECT p, count(*) AS deg FROM (
         |      SELECT pa AS p FROM $prev UNION ALL SELECT pb FROM $prev)
         |    GROUP BY p) WHERE deg >= $KCoreK),
         |e$i AS MATERIALIZED (SELECT pa, pb FROM $prev
         |  WHERE pa IN (SELECT p FROM alive$i)
         |    AND pb IN (SELECT p FROM alive$i))""".stripMargin
    }.mkString(",\n")
    val rows = (0 to KCoreRounds).map { r =>
      val rel = if (r == 0) "edges0" else s"e$r"
      s"""SELECT 'r${r}_edges' AS metric, count(*) AS value FROM $rel
         |  UNION ALL SELECT 'r${r}_nodes', count(*) FROM (
         |    SELECT DISTINCT p FROM (
         |      SELECT pa AS p FROM $rel UNION ALL SELECT pb FROM $rel))"""
        .stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH $coEdgesSql,
       |$rounds
       |SELECT metric, CAST(value AS BIGINT) AS value FROM (
       |  $rows)
       |ORDER BY metric""".stripMargin
  }

  val q194TriangleSampleSql: String =
    s"""WITH $coEdgesSql,
       |edges AS (SELECT pa, pb FROM edges0
       |  WHERE md5(CAST(pa AS VARCHAR) || '_' || CAST(pb AS VARCHAR))
       |    < '$TriSampleHexCut'),
       |$triangleCtesSql
       |SELECT metric, CAST(value AS BIGINT) AS value FROM (
       |  SELECT 'n_edges_total' AS metric, count(*) AS value FROM edges0
       |  UNION ALL SELECT 'n_edges_sampled', count(*) FROM edges
       |  UNION ALL SELECT 'n_wedges_sampled', count(*) FROM wedges
       |  UNION ALL SELECT 'n_triangles_sampled', count(*) FROM tri
       |  UNION ALL SELECT 'est_triangles',
       |    count(*) * ${TriSampleInvP * TriSampleInvP * TriSampleInvP}
       |    FROM tri)
       |ORDER BY metric""".stripMargin


  // ---------------------------------------------------------------
  // q279: k-truss peeling (edge-grain cohesion, 3 unrolled rounds)
  // ---------------------------------------------------------------

  // support >= 10 is the 12-truss: measured live at every SF (edge
  // traces 8899→8896-ish at sf0.001, 115729→69588→22275→2565 at
  // sf0.01, 1.196M→29299→9790→9790 — a reached FIXED POINT — at
  // sf0.1); a higher threshold empties sf0.01 by round 2 and a lower
  // one never peels the dense sf0.001 graph
  private val KTrussMinSup = 10L
  private val KTrussRounds = 3

  /** k-truss decomposition by iterative support peeling (Cohen 2008,
    * "Trusses: cohesive subgraphs for social network analysis";
    * Wang–Cheng VLDB 2012 distribute it exactly this way) — the
    * EDGE-grain cohesion operator beside q197's node-grain k-core: an
    * edge survives iff it participates in ≥ [[KTrussMinSup]] triangles
    * of the CURRENT subgraph, so each round recomputes support on the
    * survivors and deletes weak edges until stable. Trusses sit
    * strictly inside cores (every k-truss edge has both endpoints in
    * the (k−1)-core) and are the standard community-backbone extract —
    * what a recommender keeps when co-purchase noise must go.
    *
    * Output: the [[KTrussRounds]]-round census trace — per round the
    * surviving edge count and the triangle count of the subgraph the
    * peel just measured (read off the support relation as Σsup/3, so
    * the triangle relation is never materialized twice).
    *
    * Determinism: pure integer counts, the same degree-ordered
    * orientation as q189 every round — the lexicographic (deg, id)
    * pairwise comparison, unbounded in id width (the mirror keeps its
    * packed okey, rule 9).
    *
    * Scale shape: round 0's support comes from the STAGED triangle
    * relation (the q189/q238 materialize-once discipline — zero new
    * corpus-grain work); later rounds re-run the Σ outdeg² wedge close
    * only on the SHRINKING survivor graph (measured: 29k edges by
    * round 1 at sf0.1 — the expensive join runs on ~2% of the edges).
    * Each round's triangle and support relations are one generation,
    * filled by the round's census (the q197 iteration discipline); the
    * next round's survivor edge set is a filter over the filled support
    * relation. The mirror pins the identical shape with
    * AS MATERIALIZED per round. */
  def q279KTruss(s: SparkSession, d: String): DataFrame =
    kTrussTrace(coEdgesStaged(s, d), KTrussMinSup,
      tri0 = Some(trianglesStaged(s, d)))

  /** The support-peel loop over an arbitrary (pa, pb) edge list —
    * split from [[q279KTruss]] so the crafted spec can drive a small
    * graph with a small threshold and its own trace depth (`rounds`
    * defaults to the live [[KTrussRounds]] — round-12 advice); `tri0`
    * optionally supplies a precomputed round-0 triangle relation (the
    * live staged path). Each round's triangle and support relations
    * are one [[Blocks.generations]] generation, filled by ONE census
    * action that reads both numbers off the support relation.
    * PRECONDITION (already the truss contract): `edges0` is a
    * DISTINCT (pa, pb) pair relation — the survivor census counts
    * passing support rows, which only equals the semijoined edge
    * count on a simple graph. */
  private[graft] def kTrussTrace(edges0: DataFrame, minSup: Long,
      tri0: Option[DataFrame] = None,
      rounds: Int = KTrussRounds): DataFrame = {
    def supportOf(tri: DataFrame): DataFrame = tri
      .select(explode(array(
        struct(least($"u", $"v").as("pa"), greatest($"u", $"v").as("pb")),
        struct(least($"u", $"w").as("pa"), greatest($"u", $"w").as("pb")),
        struct(least($"v", $"w").as("pa"), greatest($"v", $"w").as("pb"))))
        .as("e"))
      .select($"e.pa".as("pa"), $"e.pb".as("pb"))
      .groupBy($"pa", $"pb").agg(count(lit(1)).as("sup"))
    val census = Blocks.generations { gens =>
      var e = gens.keep(edges0)
      val r0 = gens.fill("ktruss round 0: census (edge count)")(e.count())
      var tri: DataFrame = null
      ("r0_edges" -> r0) +: (1 to rounds).flatMap { r =>
        // round 16: edge sets only SHRINK, so rounds ≥ 2 keep the
        // previous round's triangles whose three edges all survived
        // (three semi joins) instead of re-deriving them (Probe: ~22
        // stage jobs, ~10 s of 14.4 s per round). The inherited corner
        // labeling is invisible: supportOf keys corner pairs by
        // least/greatest and the census is corner-blind.
        tri = gens.keep(if (r == 1) tri0.getOrElse(triangleParts(e)._4)
          else {
            val ecur = e
            def keep(tag: String) =
              ecur.select($"pa".as(s"ka$tag"), $"pb".as(s"kb$tag"))
            tri
              .join(keep("1"),
                least($"u", $"v") === $"ka1" && greatest($"u", $"v") === $"kb1",
                "left_semi")
              .join(keep("2"),
                least($"u", $"w") === $"ka2" && greatest($"u", $"w") === $"kb2",
                "left_semi")
              .join(keep("3"),
                least($"v", $"w") === $"ka3" && greatest($"v", $"w") === $"kb3",
                "left_semi")
          })
        val sup = gens.keep(supportOf(tri))
        // ONE census action per round: triangles = sum(sup)/3, and
        // survivors = count(sup >= minSup), one row per surviving edge
        // because every support key is an edge of the DISTINCT e
        val row = gens.fill(s"ktruss round $r: census (support agg)") {
          sup.agg(
            coalesce(sum($"sup"), lit(0L)),
            count(when($"sup" >= minSup, lit(1)))).head()
        }
        // round 15: the survivor edge set is read DIRECTLY off the
        // filled support relation (it IS e ⋉ σ(sup), for the same
        // reason), so the next round's semi joins read that cache
        e = sup.filter($"sup" >= minSup).select($"pa", $"pb")
        Seq(s"r${r - 1}_tri" -> row.getLong(0) / 3L,
          s"r${r}_edges" -> row.getLong(1))
      }
    }
    censusFrame(edges0.sparkSession, census)
  }

  val q279KTrussSql: String = {
    def roundCtes(r: Int): String = {
      val e = s"e$r"
      s"""deg$r AS MATERIALIZED (SELECT p, CAST(count(*) AS BIGINT) AS deg
         |  FROM (SELECT pa AS p FROM $e UNION ALL SELECT pb FROM $e)
         |  GROUP BY p),
         |dk$r AS MATERIALIZED (SELECT p, deg * 4294967296 + p AS okey
         |  FROM deg$r),
         |ed$r AS MATERIALIZED (SELECT
         |    CASE WHEN ka.okey < kb.okey THEN e.pa ELSE e.pb END AS u,
         |    CASE WHEN ka.okey < kb.okey THEN e.pb ELSE e.pa END AS v,
         |    CASE WHEN ka.okey < kb.okey THEN kb.okey ELSE ka.okey END AS kv
         |  FROM $e e JOIN dk$r ka ON ka.p = e.pa
         |  JOIN dk$r kb ON kb.p = e.pb),
         |wedges$r AS MATERIALIZED (SELECT a.u, a.v, b.v AS w
         |  FROM ed$r a JOIN ed$r b USING (u) WHERE a.kv < b.kv),
         |tri$r AS MATERIALIZED (SELECT x.u, x.v, x.w FROM wedges$r x
         |  JOIN ed$r c ON c.u = x.v AND c.v = x.w),
         |sup$r AS MATERIALIZED (SELECT pa, pb,
         |    CAST(count(*) AS BIGINT) AS sup FROM (
         |    SELECT least(u, v) AS pa, greatest(u, v) AS pb FROM tri$r
         |    UNION ALL SELECT least(u, w), greatest(u, w) FROM tri$r
         |    UNION ALL SELECT least(v, w), greatest(v, w) FROM tri$r)
         |  GROUP BY 1, 2),
         |e${r + 1} AS MATERIALIZED (SELECT e.pa, e.pb FROM $e e
         |  JOIN sup$r s ON s.pa = e.pa AND s.pb = e.pb
         |    AND s.sup >= $KTrussMinSup)""".stripMargin
    }
    val rounds = (0 until KTrussRounds).map(roundCtes).mkString(",\n")
    val rows = (0 until KTrussRounds).map { r =>
      s"""SELECT 'r${r}_edges' AS metric, count(*) AS value FROM e$r
         |  UNION ALL SELECT 'r${r}_tri',
         |    coalesce(CAST(sum(sup) AS BIGINT), 0) // 3 FROM sup$r"""
        .stripMargin
    }.mkString("\n  UNION ALL ") +
      s"\n  UNION ALL SELECT 'r${KTrussRounds}_edges', count(*)" +
      s" FROM e$KTrussRounds"
    s"""WITH $coEdgesSql,
       |e0 AS (SELECT pa, pb FROM edges0),
       |$rounds
       |SELECT metric, CAST(value AS BIGINT) AS value FROM (
       |  $rows)
       |ORDER BY metric""".stripMargin
  }

  // ---------------------------------------------------------------
  // q204: Benford first-digit audit
  // ---------------------------------------------------------------

  /** First-significant-digit distribution of `l_extendedprice` against
    * Benford's law — the classic forensic-accounting screen for
    * fabricated or truncated numeric feeds (Benford 1938; Nigrini's
    * audit practice). Real multiplicative data follows
    * P(d) = log10(1 + 1/d); synthetic/uniform feeds (like this test
    * corpus) deviate loudly, and the audit's whole job is to REPORT
    * that deviation per digit. The expected shares ship as nine
    * pre-computed ppm literals (one shared constant table in both
    * engines — no transcendental evaluated at query time, rule 8 by
    * construction); observed shares are exact integer floor-divisions
    * of exact counts. The digit is taken from the string form of the
    * integer cent value — identical semantics in both engines for
    * positive integers, no double formatting involved. A digit that
    * never occurs still reports its row (n = 0) via the 9-row spine.
    * Scale shape: one scan aggregated map-side to the 9-digit axis;
    * everything after is metadata-sized (9-row spine left-joined, 1-row
    * total broadcast). */
  def q204BenfordAudit(s: SparkSession, d: String): DataFrame = {
    val cents = Tables.lineitem(s, d)
      .select(floor($"l_extendedprice" * 100.0 + 0.5).cast("long")
        .as("cents"))
      .filter($"cents" > 0L)
    val digs = cents
      .select(substring($"cents".cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
    val tot = digs.agg(sum($"n").as("total"))
    val spine = s.range(1, 10).select($"id".cast("int").as("digit"))
    spine.join(digs, Seq("digit"), "left")
      .select($"digit", coalesce($"n", lit(0L)).as("n"))
      .crossJoin(broadcast(tot))
      .withColumn("obs_ppm", expr("(n * 1000000) div total"))
      .select($"digit", $"n", $"obs_ppm",
        element_at(array(BenfordPpm.map(lit): _*), $"digit").as("exp_ppm"))
      .withColumn("dev_ppm", abs($"obs_ppm" - $"exp_ppm"))
      .orderBy($"digit")
  }

  /** floor(log10(1 + 1/d) * 1e6 + 0.5) for d = 1..9 — Benford's
    * expected first-digit shares in ppm, precomputed so neither engine
    * evaluates a transcendental at query time. */
  private val BenfordPpm: Seq[Long] =
    Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L,
      51153L, 45757L)

  val q204BenfordAuditSql: String = {
    val expList = BenfordPpm.mkString("[", ", ", "]")
    s"""WITH c AS (SELECT CAST(floor(l_extendedprice * 100.0 + 0.5)
       |    AS BIGINT) AS cents FROM lineitem),
       |dg AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1)
       |      AS INTEGER) AS digit,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM c WHERE cents > 0 GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM dg),
       |sp AS (SELECT CAST(range AS INTEGER) AS digit FROM range(1, 10)),
       |j AS (SELECT sp.digit, coalesce(dg.n, 0) AS n
       |  FROM sp LEFT JOIN dg ON sp.digit = dg.digit)
       |SELECT j.digit, j.n,
       |  (j.n * 1000000) // t.total AS obs_ppm,
       |  CAST(list_extract($expList, j.digit) AS BIGINT) AS exp_ppm,
       |  abs((j.n * 1000000) // t.total
       |    - CAST(list_extract($expList, j.digit) AS BIGINT)) AS dev_ppm
       |FROM j CROSS JOIN t ORDER BY j.digit""".stripMargin
  }


  // ---------------------------------------------------------------
  // q211: histogram join-cardinality estimation (optimizer stats)
  // ---------------------------------------------------------------

  private val CardBuckets = 1024L

  /** The cost-based-optimizer statistics surface: estimate two join
    * cardinalities from per-side bucket histograms (key mod 1024:
    * per-bucket row count + exact NDV), using the System-R
    * containment/uniformity estimate Σ n_a·n_b ÷ max(ndv_a, ndv_b)
    * per bucket, and audit the estimate against the EXACT join count
    * with an integer-ppm error. On FK joins (both probed here) the
    * uniformity assumption is tight, which is the point of the audit
    * row — the artifact a plan advisor would read before choosing a
    * join strategy. All integer arithmetic; bucket relations are
    * bounded at 1024 rows per side regardless of table size, so the
    * estimator costs two map-side-combinable aggregations per side
    * at any scale (the exact count is the expensive truth being
    * audited, not part of the estimator). */
  def q211JoinCardEst(s: SparkSession, d: String): DataFrame = {
    def sideStats(df: DataFrame, key: String): DataFrame =
      df.select((col(key) % CardBuckets).as("b"), col(key).as("k"))
        .groupBy($"b")
        .agg(count(lit(1)).as("n"), countDistinct($"k").as("ndv"))
    def est(a: DataFrame, b: DataFrame): DataFrame =
      a.select($"b", $"n".as("na"), $"ndv".as("nda"))
        .join(b.select($"b", $"n".as("nb"), $"ndv".as("ndb")), "b")
        .agg(sum(expr("(na * nb) div greatest(nda, ndb)")).as("est_rows"))
    val li = Tables.lineitem(s, d)
    val lo = est(sideStats(li, "l_orderkey"),
      sideStats(Tables.orders(s, d), "o_orderkey"))
    val lp = est(sideStats(li, "l_partkey"),
      sideStats(Tables.part(s, d), "p_partkey"))
    val exactLo = li.join(Tables.orders(s, d),
      $"l_orderkey" === $"o_orderkey").agg(count(lit(1)).as("exact_rows"))
    val exactLp = li.join(Tables.part(s, d),
      $"l_partkey" === $"p_partkey").agg(count(lit(1)).as("exact_rows"))
    def rowOf(name: String, e: DataFrame, x: DataFrame): DataFrame =
      e.crossJoin(broadcast(x))
        .select(lit(name).as("join_name"), $"est_rows", $"exact_rows",
          expr("(abs(est_rows - exact_rows) * 1000000) div exact_rows")
            .as("err_ppm"))
    rowOf("lineitem_orders", lo, exactLo)
      .unionAll(rowOf("lineitem_part", lp, exactLp))
      .orderBy($"join_name")
  }

  val q211JoinCardEstSql: String = {
    def sideSql(name: String, tbl: String, key: String): String =
      s"""$name AS (SELECT $key % $CardBuckets AS b, count(*) AS n,
         |    count(DISTINCT $key) AS ndv FROM $tbl GROUP BY 1)""".stripMargin
    def estSql(name: String, a: String, b: String): String =
      s"""$name AS (SELECT CAST(sum((a.n * b.n) //
         |    greatest(a.ndv, b.ndv)) AS BIGINT) AS est_rows
         |  FROM $a a JOIN $b b USING (b))""".stripMargin
    s"""WITH ${sideSql("la", "lineitem", "l_orderkey")},
       |${sideSql("oa", "orders", "o_orderkey")},
       |${sideSql("lb", "lineitem", "l_partkey")},
       |${sideSql("pa", "part", "p_partkey")},
       |${estSql("eo", "la", "oa")},
       |${estSql("ep", "lb", "pa")},
       |xo AS (SELECT count(*) AS exact_rows FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |xp AS (SELECT count(*) AS exact_rows FROM lineitem l
       |  JOIN part p ON l.l_partkey = p.p_partkey)
       |SELECT 'lineitem_orders' AS join_name, eo.est_rows,
       |  xo.exact_rows,
       |  (abs(eo.est_rows - xo.exact_rows) * 1000000) // xo.exact_rows
       |    AS err_ppm
       |FROM eo CROSS JOIN xo
       |UNION ALL
       |SELECT 'lineitem_part', ep.est_rows, xp.exact_rows,
       |  (abs(ep.est_rows - xp.exact_rows) * 1000000) // xp.exact_rows
       |FROM ep CROSS JOIN xp
       |ORDER BY join_name""".stripMargin
  }


  // ---------------------------------------------------------------
  // q217: declarative data-contract validation battery
  // ---------------------------------------------------------------

  /** The dbt-test / Deequ-style constraint battery every warehouse
    * load gates on, as one census: referential integrity (FK
    * anti-joins), primary-key uniqueness (duplicate-key census),
    * domain ranges, and null checks — each constraint one row with
    * its violation count and pass flag, so a GREEN ZERO is itself
    * the audited fact (the q46 pattern: proving absence, not just
    * reporting presence). All counts are exact integers from
    * anti-joins and filters; the UNION of eight 1-row aggregates is
    * metadata-sized. Scale shape: each FK check is one shuffle
    * anti-join on the key; the uniqueness check is a
    * map-side-combinable key count; range/null checks are scan
    * filters — nothing here outgrows its key cardinality. */
  def q217ContractChecks(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    val prt = Tables.part(s, d)
    def row(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("constraint_name"), $"n_violations",
          ($"n_violations" === 0L).as("pass"))
    row("lineitem_orderkey_fk",
        li.join(ord, $"l_orderkey" === $"o_orderkey", "left_anti"))
      .unionAll(row("lineitem_partkey_fk",
        li.join(prt, $"l_partkey" === $"p_partkey", "left_anti")))
      .unionAll(row("orders_pk_unique",
        ord.groupBy($"o_orderkey").agg(count(lit(1)).as("c"))
          .filter($"c" > 1L)))
      // (l_orderkey, l_linenumber) is deliberately NOT unique in the
      // driver corpus — this row demonstrates the battery DETECTING a
      // violated contract (pass = false with the exact duplicate-group
      // count), while the true 4-column composite below is green
      .unionAll(row("lineitem_line2_unique_violated",
        li.groupBy($"l_orderkey", $"l_linenumber").agg(count(lit(1)).as("c"))
          .filter($"c" > 1L)))
      .unionAll(row("lineitem_composite_pk_unique",
        li.groupBy($"l_orderkey", $"l_linenumber", $"l_partkey",
            $"l_suppkey").agg(count(lit(1)).as("c"))
          .filter($"c" > 1L)))
      .unionAll(row("lineitem_quantity_range",
        li.filter($"l_quantity" < 1.0 || $"l_quantity" > 50.0)))
      .unionAll(row("lineitem_price_nonneg",
        li.filter($"l_extendedprice" < 0.0)))
      .unionAll(row("lineitem_discount_domain",
        li.filter($"l_discount" < 0.0 || $"l_discount" > 1.0)))
      .unionAll(row("orders_keys_not_null",
        ord.filter($"o_orderkey".isNull || $"o_custkey".isNull)))
      .orderBy($"constraint_name")
  }

  val q217ContractChecksSql: String = {
    def rowSql(name: String, body: String): String =
      s"""SELECT '$name' AS constraint_name,
         |  CAST(count(*) AS BIGINT) AS n_violations,
         |  count(*) = 0 AS pass FROM ($body)""".stripMargin
    s"""${rowSql("lineitem_orderkey_fk",
        "SELECT 1 FROM lineitem l WHERE NOT EXISTS " +
          "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)")}
       |UNION ALL
       |${rowSql("lineitem_partkey_fk",
        "SELECT 1 FROM lineitem l WHERE NOT EXISTS " +
          "(SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)")}
       |UNION ALL
       |${rowSql("orders_pk_unique",
        "SELECT 1 FROM orders GROUP BY o_orderkey HAVING count(*) > 1")}
       |UNION ALL
       |${rowSql("lineitem_line2_unique_violated",
        "SELECT 1 FROM lineitem GROUP BY l_orderkey, l_linenumber " +
          "HAVING count(*) > 1")}
       |UNION ALL
       |${rowSql("lineitem_composite_pk_unique",
        "SELECT 1 FROM lineitem GROUP BY l_orderkey, l_linenumber, " +
          "l_partkey, l_suppkey HAVING count(*) > 1")}
       |UNION ALL
       |${rowSql("lineitem_quantity_range",
        "SELECT 1 FROM lineitem WHERE l_quantity < 1.0 " +
          "OR l_quantity > 50.0")}
       |UNION ALL
       |${rowSql("lineitem_price_nonneg",
        "SELECT 1 FROM lineitem WHERE l_extendedprice < 0.0")}
       |UNION ALL
       |${rowSql("lineitem_discount_domain",
        "SELECT 1 FROM lineitem WHERE l_discount < 0.0 " +
          "OR l_discount > 1.0")}
       |UNION ALL
       |${rowSql("orders_keys_not_null",
        "SELECT 1 FROM orders WHERE o_orderkey IS NULL " +
          "OR o_custkey IS NULL")}
       |ORDER BY constraint_name""".stripMargin
  }

  // ---------------------------------------------------------------
  // q225: multi-source BFS (hop-distance census, 3 unrolled rounds)
  // ---------------------------------------------------------------

  /** Every [[BfsSeedMod]]-th part id seeds the search — a modulus small
    * enough that every scale factor's id range (200 parts at sf0.001)
    * contains seeds, so the frontier rows are non-vacuous at all three
    * gate SFs. */
  private val BfsSeedMod = 97L
  private val BfsRounds = 3

  /** Multi-source breadth-first search over the part co-purchase graph
    * (reference: graph reachability the warehouse's dim graph never
    * needs, but any 100 TB entity graph does) — the frontier-expansion
    * primitive under shortest-path, influence-radius and coverage
    * queries: every node's hop distance to the NEAREST seed (every
    * [[BfsSeedMod]]-th part), capped at [[BfsRounds]] hops, reported as
    * the per-round frontier trace plus the final distance histogram and
    * the not-yet-reached remainder.
    *
    * Scale: the textbook Pregel/BSP BFS shape — each round is ONE join
    * of the (shrinking) frontier against the edge list on the
    * entropy-rich part-id key plus one anti join against the reached
    * set; no per-pair work, no transitive closure. Each frontier is
    * pinned in a [[Blocks.generations]] loop and filled by its own
    * count, the round's census (the q197 discipline); the reached set
    * is the union of the frontiers so far — without the caches the
    * edge build re-evaluates 2^r times, the measured 80 s cliff. The
    * mirror pins the same shape with AS MATERIALIZED.
    *
    * Determinism: pure integer node ids and counts; seed choice is a
    * modulus, not a sample. */
  def q225BfsHops(s: SparkSession, d: String): DataFrame =
    bfsTrace(coEdgesStaged(s, d), BfsSeedMod)

  /** The frontier loop over an arbitrary (pa, pb) edge list — split
    * from [[q225BfsHops]] so the crafted spec can drive a small graph
    * with a small seed modulus (the kCoreTrace pattern). */
  private[graft] def bfsTrace(edges0: DataFrame, seedMod: Long): DataFrame = {
    val census = Blocks.generations { gens =>
      // round 16: the symmetrized (src, dst) edge list is shuffled by
      // src ONCE and pinned, so every round's expansion reuses the
      // cached partitioning and only the small frontier side moves
      val und = gens.pin(edges0.select($"pa".as("src"), $"pb".as("dst"))
        .unionByName(edges0.select($"pb".as("src"), $"pa".as("dst")))
        .repartition($"src"))
      val nodes = gens.pin(edges0.select(explode(array($"pa", $"pb")).as("p"))
        .distinct())
      val r0 = gens.fill("bfs round 0: census (nodes, seeds)") {
        nodes.agg(count(lit(1)), count(when($"p" % seedMod === 0L, lit(1))))
          .head()
      }
      // every frontier is pinned and filled by its own count; reached
      // is the union of the frontiers so far
      var frontier = nodes.filter($"p" % seedMod === 0L)
      var reached = frontier
      val frontiers = r0.getLong(1) +: (1 to BfsRounds).map { r =>
        frontier = gens.pin(und
          .join(frontier.withColumnRenamed("p", "src"), Seq("src"), "leftsemi")
          .select($"dst".as("p"))
          .distinct()
          .join(reached, Seq("p"), "leftanti"))
        reached = reached.unionByName(frontier)
        gens.fill(s"bfs round $r: census (frontier)")(frontier.count())
      }
      // the distance histogram is the frontier trace (present dists
      // only), and every reached node is in exactly one frontier
      frontiers.zipWithIndex.flatMap { case (n, r) =>
        (s"r${r}_frontier" -> n) +:
          (if (n > 0) Seq(s"dist_$r" -> n) else Nil)
      } :+ ("unreached" -> (r0.getLong(0) - frontiers.sum))
    }
    censusFrame(edges0.sparkSession, census)
  }

  val q225BfsHopsSql: String = {
    val rounds = (1 to BfsRounds).map { r =>
      val pf = if (r == 1) "f0" else s"f${r - 1}"
      val pr = if (r == 1) "rch0" else s"rch${r - 1}"
      s"""f$r AS MATERIALIZED (SELECT p FROM (
         |    SELECT DISTINCT p FROM (
         |      SELECT pb AS p FROM edges0
         |        WHERE pa IN (SELECT p FROM $pf)
         |      UNION ALL SELECT pa FROM edges0
         |        WHERE pb IN (SELECT p FROM $pf)))
         |  WHERE p NOT IN (SELECT p FROM $pr)),
         |rch$r AS MATERIALIZED (SELECT p, dist FROM $pr
         |  UNION ALL SELECT p, $r FROM f$r)""".stripMargin
    }.mkString(",\n")
    val frontierRows = (0 to BfsRounds).map { r =>
      s"SELECT 'r${r}_frontier' AS metric, count(*) AS value FROM f$r"
    }.mkString("\n  UNION ALL ")
    s"""WITH $coEdgesSql,
       |nodes AS MATERIALIZED (SELECT DISTINCT p FROM (
       |  SELECT pa AS p FROM edges0 UNION ALL SELECT pb FROM edges0)),
       |f0 AS MATERIALIZED (SELECT p FROM nodes WHERE p % $BfsSeedMod = 0),
       |rch0 AS MATERIALIZED (SELECT p, 0 AS dist FROM f0),
       |$rounds
       |SELECT metric, CAST(value AS BIGINT) AS value FROM (
       |  $frontierRows
       |  UNION ALL SELECT 'dist_' || CAST(dist AS VARCHAR), count(*)
       |    FROM rch$BfsRounds GROUP BY dist
       |  UNION ALL SELECT 'unreached', count(*) FROM nodes
       |    WHERE p NOT IN (SELECT p FROM rch$BfsRounds))
       |ORDER BY metric""".stripMargin
  }

  // ---------------------------------------------------------------
  // q226: rank-1 ALS half-sweep (recommender training step)
  // ---------------------------------------------------------------

  /** Ridge weight for the ALS normal equations, in rating units. */
  private val AlsLambda = 10L
  /** Factor grid: user/item factors are fixed to 1e-3 integer grids
    * between the two half-steps (rule 8/10 discipline — the division
    * is IEEE-identical cross-engine, but everything SUMMED afterwards
    * must be an exact integer). */
  private val AlsGrid = 1000L

  /** One alternating-least-squares sweep at rank 1 (Zhou et al. 2008,
    * the Netflix-prize ALS recipe, public) over implicit feedback —
    * the model-training operator class beside classifier inference
    * (q178) and k-means (q65): ratings are per-(customer, part)
    * quantity totals from `lineitem ⋈ orders`; with item factors
    * initialized to 1, the closed-form user update is
    * u_c = Σr / (λ + n_c), then the item update
    * v_p = Σ r·u / (λ + Σ u²) runs against the GRIDDED user factors,
    * and the fit census reports the exact integer L1 error of
    * r ≈ u·v on the same grid.
    *
    * Determinism: each least-squares division takes EXACT integer
    * operands (rule 7: cast to double only at the final divide) and
    * lands on the [[AlsGrid]] integer grid before anything sums over
    * it (rule 2/8); the error census is pure BIGINT arithmetic
    * (|r·g² − ug·vg|, bounded ≪ 2⁶³ at gate scale — at a corpus where
    * Σ|e| approaches 2⁶³ the census would regrid, documented here);
    * the best-item pick is a rule-9 packed-integer max with ADAPTIVE
    * width (BIGINT pack + loud raise_error guard while part ids fit
    * 32 bits, DECIMAL(38,0) pack to 2⁶³ beyond — the q282 recipe),
    * never min_by.
    *
    * Scale: the canonical distributed-ALS shape — each half-step is one
    * map-side-combinable aggregate keyed by the entropy-rich user/item
    * id (no factor matrix ever materializes on one node at rank 1; a
    * rank-k sweep shards the same aggregates by (id, component));
    * ratings/users/items are pinned in one [[Blocks.generations]]
    * loop because the second half-step and the fit census re-reference
    * them (iterative-plan rule); each is filled by the action that
    * counts it (bound scan, user count, item count + top pick), so the
    * fit census reads them filled. */
  def q226AlsStep(s: SparkSession, d: String): DataFrame =
    alsStep(Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_partkey", $"l_quantity")
      .join(Tables.orders(s, d).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey", $"l_partkey")
      .agg(floor(sum($"l_quantity") + 0.5).cast("long").as("r"))
      .select($"o_custkey".as("c"), $"l_partkey".as("p"), $"r"))

  /** The ALS half-sweep over an arbitrary (c, p, r) rating relation —
    * split from [[q226AlsStep]] so the crafted spec can drive part ids
    * past the 32-bit narrow-pack ceiling through the adaptive
    * DECIMAL(38,0) argmax arm (the kTrussTrace/boruvkaTrace seam
    * pattern). */
  private[graft] def alsStep(ratings0: DataFrame): DataFrame = {
    val g2 = AlsGrid * AlsGrid
    val two63 = new java.math.BigDecimal("9223372036854775808")
    val census = Blocks.generations { gens =>
      // each stage is pinned and filled by the action that counts it,
      // so the next stage and the fit census read it filled
      val ratings = gens.pin(ratings0)
      // ADAPTIVE rule-9 pack width (the q282 recipe): a 1-row bound
      // scan picks the narrow 31/32-bit BIGINT pack (measurably
      // cheaper, loud per-row guard) when every part id fits 32 bits,
      // the DECIMAL(38,0) pack (vg·2⁶³ + (2⁶³−1−p), no guard can trip)
      // beyond; both induce the same (vg desc, p asc) order.
      val maxP = gens.fill("als: ratings bound scan") {
        ratings.agg(max($"p")).head()
      }
      val wideIds = !maxP.isNullAt(0) && maxP.getLong(0) >= (1L << 32)
      val users = gens.pin(ratings.groupBy($"c")
        .agg(sum($"r").as("sr"), count(lit(1)).as("n"))
        .select($"c",
          floor($"sr".cast("double") / ($"n" + lit(AlsLambda)).cast("double")
            * lit(AlsGrid.toDouble) + 0.5).cast("long").as("ug")))
      val nUsers = gens.fill("als: user half-step")(users.count())
      val items0 = ratings.join(users, "c")
        .groupBy($"p")
        .agg(sum($"r" * $"ug").as("nj"), sum($"ug" * $"ug").as("dj"))
        .select($"p",
          floor($"nj".cast("double") * lit(g2.toDouble)
            / (lit(AlsLambda * g2) + $"dj").cast("double") + 0.5)
            .cast("long").as("vg"))
      val items = gens.pin(if (wideIds) items0 else items0.select($"p",
        when($"p" >= lit(1L << 32) || $"vg" >= lit(1L << 31),
          raise_error(concat(
            lit("q226AlsStep: (vg, p) exceeds the 31/32-bit pack bound: vg="),
            $"vg", lit(" p="), $"p"))).otherwise($"vg").as("vg")))
      val top = gens.fill("als: item half-step") {
        (if (wideIds)
          items.agg(count(lit(1)).as("n"), max($"vg".cast("decimal(38,0)") *
              lit(two63) + (lit(Long.MaxValue) - $"p")).as("pk"))
            .select($"n",
              lit(Long.MaxValue) -
                expr("CAST(pk % 9223372036854775808 AS BIGINT)"),
              expr("pk div 9223372036854775808"))
        else
          items.agg(count(lit(1)).as("n"),
              max($"vg" * lit(1L << 32) + (lit((1L << 32) - 1) - $"p"))
                .as("pk"))
            .select($"n",
              lit((1L << 32) - 1) - ($"pk" % lit(1L << 32)),
              expr("pk div 4294967296"))).head()
      }
      val fit = gens.fill("als: fit census") {
        ratings.join(users, "c").join(items, "p")
          .select(abs($"r" * lit(g2) - $"ug" * $"vg").as("ae"))
          .agg(count(lit(1)).as("nr"), sum($"ae").as("sae"))
          .select($"nr", $"sae", expr("sae div nr")).head()
      }
      Seq("n_users" -> nUsers, "n_items" -> top.getLong(0),
        "n_ratings" -> fit.getLong(0), "sum_abs_err_micro" -> fit.getLong(1),
        "mae_micro" -> fit.getLong(2), "top_item_id" -> top.getLong(1),
        "top_item_vg" -> top.getLong(2))
    }
    censusFrame(ratings0.sparkSession, census)
  }

  val q226AlsStepSql: String = {
    val g2 = AlsGrid * AlsGrid
    s"""WITH ratings AS MATERIALIZED (
       |  SELECT o_custkey AS c, l_partkey AS p,
       |    CAST(floor(sum(l_quantity) + 0.5) AS BIGINT) AS r
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY o_custkey, l_partkey),
       |users AS MATERIALIZED (
       |  SELECT c, CAST(floor(
       |      CAST(CAST(sum(r) AS BIGINT) AS DOUBLE)
       |      / CAST(count(*) + $AlsLambda AS DOUBLE)
       |      * ${AlsGrid.toDouble} + 0.5) AS BIGINT) AS ug
       |  FROM ratings GROUP BY c),
       |items AS MATERIALIZED (
       |  SELECT p, CAST(floor(
       |      CAST(nj AS DOUBLE) * ${g2.toDouble}
       |      / CAST(${AlsLambda * g2} + dj AS DOUBLE) + 0.5) AS BIGINT) AS vg
       |  FROM (SELECT p, CAST(sum(r * ug) AS BIGINT) AS nj,
       |          CAST(sum(ug * ug) AS BIGINT) AS dj
       |        FROM ratings JOIN users USING (c) GROUP BY p)),
       |e AS MATERIALIZED (
       |  SELECT abs(r * $g2 - ug * vg) AS ae
       |  FROM ratings JOIN users USING (c) JOIN items USING (p)),
       |tp AS (SELECT max(vg * 4294967296 + (4294967295 - p)) AS pk
       |       FROM items)
       |SELECT metric, CAST(value AS BIGINT) AS value FROM (
       |  SELECT 'n_ratings' AS metric, count(*) AS value FROM e
       |  UNION ALL SELECT 'n_users', count(*) FROM users
       |  UNION ALL SELECT 'n_items', count(*) FROM items
       |  UNION ALL SELECT 'sum_abs_err_micro',
       |    (SELECT CAST(sum(ae) AS BIGINT) FROM e)
       |  UNION ALL SELECT 'mae_micro',
       |    (SELECT CAST(sum(ae) AS BIGINT) // count(*) FROM e)
       |  UNION ALL SELECT 'top_item_id',
       |    (SELECT 4294967295 - (pk % 4294967296) FROM tp)
       |  UNION ALL SELECT 'top_item_vg',
       |    (SELECT pk // 4294967296 FROM tp))
       |ORDER BY metric""".stripMargin
  }

  // ---------------------------------------------------------------
  // q228: connected components (min-label propagation, 3 rounds)
  // ---------------------------------------------------------------

  private val CcRounds = 3

  /** Connected components by iterative min-label propagation over the
    * part co-purchase graph — the global clustering primitive q50's
    * LSH-bucket components deliberately avoid (those run INSIDE
    * bounded buckets; dedup clusters that span buckets need exactly
    * this operator): every node starts labeled with its own id, and
    * each round adopts the minimum label among itself and its
    * neighbors. [[CcRounds]] unrolled rounds (the q110/q197
    * fixed-iteration pattern), reporting the distinct-label count and
    * the number of nodes that changed label after each — the
    * convergence trace (label count stable + zero changes ⇒ the
    * components are final; hop-doubling variants like large-star /
    * small-star, Kiveris et al. 2014, cut the round count
    * logarithmically but each round keeps this exact shape).
    *
    * Determinism: pure integer ids, min() aggregates, integer counts.
    *
    * Scale: each round is one map-side-combinable min aggregate over
    * the directed edge list joined to the current labels on the
    * entropy-rich id key — the standard Pregel/BSP message round; the
    * label relation stays one row per node forever. Each round's
    * stepped label relation is one generation of [[Blocks.generations]]:
    * one groupBy(lbl) over it is the census (groups = components, its
    * summed lower-label count = changed) and the action that fills it;
    * round r+1 reads it filled, and the symmetrized edge list is pinned
    * for the whole loop. */
  def q228ConnComp(s: SparkSession, d: String): DataFrame =
    ccTrace(coEdgesStaged(s, d))

  /** The propagation loop over an arbitrary (pa, pb) edge list — split
    * from [[q228ConnComp]] for the crafted spec (kCoreTrace pattern). */
  private[graft] def ccTrace(edges0: DataFrame): DataFrame = {
    val census = Blocks.generations { gens =>
      val adj = gens.pin(edges0.select($"pa".as("src"), $"pb".as("dst"))
        .unionByName(edges0.select($"pb".as("src"), $"pa".as("dst"))))
      // (p, lbl, old): round 0 labels every node with its own id
      var stepped = gens.keep(edges0
        .select(explode(array($"pa", $"pb")).as("p")).distinct()
        .select($"p", $"p".as("lbl"), $"p".as("old")))
      (0 to CcRounds).flatMap { r =>
        if (r > 0) {
          val lbl = stepped.select($"p", $"lbl")
          val msgs = adj.join(lbl.select($"p".as("src"), $"lbl"), "src")
            .groupBy($"dst").agg(min($"lbl").as("nlbl"))
          stepped = gens.keep(lbl.select($"p", $"lbl".as("old"))
            .join(msgs.withColumnRenamed("dst", "p"), Seq("p"), "left")
            .select($"p",
              least($"old", coalesce($"nlbl", $"old")).as("lbl"), $"old"))
        }
        val row = gens.fill(s"cc round $r: census (label groups)") {
          stepped.groupBy($"lbl")
            .agg(count(when($"lbl" < $"old", lit(1))).as("changed"))
            .agg(count(lit(1)), coalesce(sum($"changed"), lit(0L))).head()
        }
        (s"r${r}_components" -> row.getLong(0)) +:
          (if (r > 0) Seq(s"r${r}_changed" -> row.getLong(1)) else Nil)
      }
    }
    censusFrame(edges0.sparkSession, census)
  }

  val q228ConnCompSql: String = {
    val rounds = (1 to CcRounds).map { r =>
      val prev = if (r == 1) "lbl0" else s"j${r - 1}"
      s"""j$r AS MATERIALIZED (
         |  SELECT l.p, least(l.lbl, coalesce(m.nlbl, l.lbl)) AS lbl,
         |         l.lbl AS old
         |  FROM $prev l LEFT JOIN (
         |    SELECT a.dst, min(x.lbl) AS nlbl
         |    FROM adj a JOIN $prev x ON a.src = x.p GROUP BY a.dst) m
         |  ON l.p = m.dst)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to CcRounds).map { r =>
      s"""SELECT 'r${r}_components' AS metric,
         |    count(DISTINCT lbl) AS value FROM j$r
         |  UNION ALL SELECT 'r${r}_changed', count(*) FROM j$r
         |    WHERE lbl < old""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH $coEdgesSql,
       |adj AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM edges0
       |  UNION ALL SELECT pb, pa FROM edges0),
       |lbl0 AS MATERIALIZED (SELECT p, p AS lbl FROM (
       |  SELECT DISTINCT p FROM (
       |    SELECT pa AS p FROM edges0 UNION ALL SELECT pb FROM edges0))),
       |$rounds
       |SELECT metric, CAST(value AS BIGINT) AS value FROM (
       |  SELECT 'r0_components' AS metric, count(DISTINCT lbl) AS value
       |    FROM lbl0
       |  UNION ALL $rows)
       |ORDER BY metric""".stripMargin
  }

  // ---------------------------------------------------------------
  // q282: Borůvka minimum spanning forest (greedy backbone, 3 rounds)
  // ---------------------------------------------------------------

  private val MstRounds = 3
  private val MstHops = 2

  /** The count-weighted co-purchase DISTANCE graph: affinity is how
    * many distinct orders carry both parts, distance its integer
    * reciprocal 1e6 div n — strongly co-purchased parts are close, so
    * the spanning forest is the product-similarity backbone. Staged
    * like [[coEdgesStaged]] (one corpus-grain self-join, read by every
    * Borůvka round). */
  private def coEdgesWeighted(s: SparkSession, d: String): DataFrame =
    basketPairs(Tables.lineitem(s, d))
      .groupBy($"pa", $"pb").agg(count(lit(1)).as("n"))
      .select($"pa", $"pb", expr("1000000 div n").as("w"))

  private def coEdgesWeightedStaged(s: SparkSession, d: String): DataFrame = {
    val df = coEdgesWeighted(s, d)
    Staged.orCompute(s, d, "graph", "co_edges_w",
      Staged.combine(Staged.planHash(df), lineitemFp(d)))(df)
  }

  /** Borůvka's minimum-spanning-forest rounds (Borůvka 1926; the
    * distributed MST algorithm of choice — GHS and every
    * Pregel/MapReduce MST paper run exactly this shape) over the
    * count-weighted co-purchase distance graph — the greedy global
    * backbone beside the local cohesion operators (q197 core, q279
    * truss) and the flat components (q228): each round every component
    * picks its minimum outgoing edge (cut property: with the packed
    * total order making all weights distinct, every such edge is
    * unconditionally in THE unique MST), picked edges merge components,
    * repeat. Output: the [[MstRounds]]-round census — components,
    * newly chosen edges, accumulated forest weight.
    *
    * Contraction is [[MstHops]] hash-min hops per round at COMPONENT
    * grain (the q228 bounded-round honesty: long pick-chains may stay
    * split within a round — they merge in later rounds; every chosen
    * edge is already a certified MST edge by the cut property, so
    * bounded hops can only defer picks, never corrupt the forest —
    * the cross-round anti-join keeps re-picks out of the census).
    *
    * Determinism: the per-component argmin is ONE packed min (rule 9)
    * with an ADAPTIVE key width: w·2⁴² + pa·2²¹ + pb as BIGINT when
    * every id fits 21 bits, w·2⁷² + pa·2³⁶ + pb as DECIMAL(38,0)
    * beyond (HUGEINT in the mirror always — all three are exact
    * integer grids inducing the SAME total order, so the choice is
    * invisible in the output); ties impossible either way. The pack
    * bound (w < 2²⁰ by the distance construction, ids < 2³⁶ ≈ 68 B
    * nodes — a genuine 100 TB catalog bound) is enforced per row by a
    * loud raise_error. The round-13 100× weak-scaling sweep is WHY the
    * wide arm exists: the 62-bit BIGINT split caps ids at 2²¹ ≈ 2.1 M
    * and 100×-replicated part keys (~13.6 M) tripped the guard — loud,
    * exactly as designed, but a real deployment ceiling; and the
    * decimal min measured ~1.5× slower at sf0.1, which is why the
    * narrow arm stays the common-case path (one 1-row bound scan picks,
    * once per trace).
    *
    * Scale shape (round 15 — no vertex-grain label relation at all):
    * labels ride ON the candidate edges and advance by function
    * composition through the COMPONENT-grain contraction map, so
    * round 1 is a pure projection of the staged edge list (identity
    * labels — no join), and each later round is two equi-joins of the
    * shrinking survivors against the even-faster-shrinking map
    * (broadcastable after round 1's ~10× component collapse) + one
    * map-side-combinable packed min(struct) that carries the winning
    * edge's label pair through the aggregate (no chosen-edge re-join)
    * + the component-grain hop joins. Census is ONE tiny aggregate
    * per round + a component-grain count with a running forest
    * weight. The weighted edge relation is staged once per corpus;
    * at most ~two candidate checkpoint generations coexist (the
    * previous one is freed by the census that follows the relabel). */
  def q282Boruvka(s: SparkSession, d: String): DataFrame =
    boruvkaTrace(coEdgesWeightedStaged(s, d))

  /** The Borůvka loop over an arbitrary (pa, pb, w) edge list — split
    * from [[q282Boruvka]] for the crafted spec (kCoreTrace pattern). */
  private[graft] def boruvkaTrace(edges0: DataFrame): DataFrame = {
    val guarded = when(
      $"pa" >= lit(1L << 36) || $"pb" >= lit(1L << 36) ||
        $"w" >= lit(1L << 20) || $"w" < 0L,
      raise_error(concat(
        lit("boruvkaTrace: (w, pa, pb) exceeds the 20/36/36-bit pack " +
          "bound: w="), $"w", lit(" pa="), $"pa", lit(" pb="), $"pb")))
      .otherwise($"w")
    val sc = edges0.sparkSession.sparkContext
    val census = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    Blocks.generations { gens =>
      // edges: SERIALIZED always — one narrow relation read at most
      // three times (bound scan, label axis, round-1 candidates), so the
      // ser/deser CPU is noise, while the deserialized form at 100×
      // (~120 M × ~150 B UnsafeRow objects) is dead weight crowding the
      // storage pool through rounds 2–3 (measured: the deserialized-
      // edges variant ran 547 s vs 315 s at 100×, everything else equal)
      val edges = gens.keep(edges0.select($"pa", $"pb", guarded.as("w")),
        StorageLevel.MEMORY_AND_DISK_SER)
      // ADAPTIVE argmin key width: both packs below induce the same
      // total order on (w, pa, pb), so the choice is invisible in the
      // output (the mirror always packs HUGEINT) — but the BIGINT key's
      // min aggregate measured ~1.5× faster than the decimal one at
      // sf0.1 reps-3. One 1-row bound scan, the action that fills the
      // edge relation, picks the narrow key whenever every id fits the
      // 21-bit split, the wide DECIMAL(38,0) key beyond — the same
      // "narrowest type that provably fits" call AQE makes from runtime
      // stats, decided once per trace, never per row
      val stats = gens.fill("boruvkaTrace edge bounds")(edges
        .agg(max(greatest($"pa", $"pb")), count(lit(1))).head())
      val wideIds = !stats.isNullAt(0) && stats.getLong(0) >= (1L << 21)
      // ADAPTIVE checkpoint cache level (same philosophy as the key
      // width: the cheapest representation that provably fits, decided
      // once per trace from the same 1-row bound scan). Deserialized
      // UnsafeRow caching stores the 2-column candidate checkpoint at
      // ~136 B/row (object headers dominate the 24 B of data - Probe
      // measurement: 16.3 GB/round at 120 M candidates, 51 GB high-water
      // + 8.3 GB spill at 100x on a 64 GB heap), while serialized blocks
      // are ~4x smaller but pay ser/deser CPU per consumer. Measured
      // same-host reps-3 at the decision's two sides: 10x corpus
      // (1.6 GB/round, fits) deserialized 29.9 s vs serialized 40.8 s;
      // 100x corpus (does not fit) serialized 315.0 s vs deserialized
      // 374-380 s. So: serialize exactly when ~two live candidate
      // generations would crowd the storage pool.
      // Storage-pool bound from the unified memory manager's own knobs
      // (spark.memory.fraction × storageFraction of the usable heap —
      // Spark reserves 300 MB off the top), NOT a bare maxMemory/4: in
      // local[*] the driver JVM IS the executor so Runtime.maxMemory is
      // the right heap to fraction, but on a cluster the same fractions
      // apply to each executor's heap against its shard of the edges —
      // this derivation keeps the constant honest on both. The 300 B/row
      // estimate is ~two live deserialized candidate generations (old
      // still referenced while new materializes — Probe measured
      // ~136 B/row each); the ÷2 on the protected region leaves headroom
      // for the other relations sharing the pool (edges, labels, MST).
      val conf = sc.getConf
      val usableHeap = Runtime.getRuntime.maxMemory() - (300L << 20)
      val storagePool =
        (usableHeap * conf.getDouble("spark.memory.fraction", 0.6) *
          conf.getDouble("spark.memory.storageFraction", 0.5)).toLong
      val ckptLevel =
        if (!stats.isNullAt(1) && stats.getLong(1) * 300L > storagePool / 2)
          StorageLevel.MEMORY_AND_DISK_SER
        else StorageLevel.MEMORY_AND_DISK
      val packK: org.apache.spark.sql.Column =
        if (wideIds)
          ($"w" * lit(1L << 36) + $"pa").cast("decimal(38,0)") *
            lit(1L << 36) + $"pb"
        else $"w" * lit(1L << 42) + $"pa" * lit(1L << 21) + $"pb"
      val decodeK: Seq[org.apache.spark.sql.Column] =
        if (wideIds) Seq(
          expr(s"(k div ${1L << 36}) div ${1L << 36}").as("w"),
          expr(s"(k div ${1L << 36}) % ${1L << 36}").as("pa"),
          expr(s"CAST(k % ${1L << 36} AS BIGINT)").as("pb"))
        else Seq(
          expr(s"k div ${1L << 42}").as("w"),
          expr(s"(k div ${1L << 21}) % ${1L << 21}").as("pa"),
          expr(s"k % ${1L << 21}").as("pb"))
      // packed (ca, cb) label pair — the second half of the TWO-column
      // checkpoint payload (see the loop comment below). Same adaptive
      // width rule as packK: labels are min node ids, so the maxId scan
      // that picked the arm bounds them identically. Both decodes are
      // integral div/mod (IntegralDivide returns BIGINT even on the
      // decimal arm), so every decoded column is BIGINT in both arms.
      val packCC: org.apache.spark.sql.Column =
        if (wideIds) $"ca".cast("decimal(38,0)") * lit(1L << 36) + $"cb"
        else $"ca" * lit(1L << 21) + $"cb"
      val decodeCC: Seq[org.apache.spark.sql.Column] =
        if (wideIds) Seq(
          expr(s"cc div ${1L << 36}").as("ca"),
          expr(s"CAST(cc % ${1L << 36} AS BIGINT)").as("cb"))
        else Seq(
          expr(s"cc div ${1L << 21}").as("ca"),
          expr(s"cc % ${1L << 21}").as("cb"))
      // comps: the CURRENT label set at COMPONENT grain — the only
      // cross-round label state this loop keeps. Round 15 removed the
      // vertex-grain (p → lbl) relation entirely: labels ride ON the
      // candidate edges (the cc column of the packed checkpoint) and are
      // advanced by joining the COMPONENT-grain contraction map of the
      // round just finished — lbl_r(p) = cm_r(lbl_{r-1}(p)) by
      // construction, so relabeling the carried ca/cb through cm is the
      // same function composition without ever materializing it per
      // vertex. Probe had pinned the per-round vertex-grain label joins
      // as the dominant 40–64 s jobs at 100×; they no longer exist —
      // round 1 needs NO join at all (labels start as identity, so
      // ca = pa, cb = pb), and rounds 2+ join the shrinking
      // component-grain map (post-round-1 component counts collapse ~10×
      // per round, so these joins broadcast on any real cluster).
      var comps = gens.checkpoint(
        edges.select(explode(array($"pa", $"pb")).as("c")).distinct())
      var mst: DataFrame = null
      var mstWeight = 0L
      census += (("r0_components", comps.count()))
      var cand: DataFrame = null
      var relab: DataFrame = null
      for (r <- 1 to MstRounds) {
        // localCheckpoint (eager), not persist, MEASURED: cand feeds two
        // consumers (the pick aggregate and the next round's relabel)
        // and the checkpointed-RDD read beat the lazy cache at sf0.1
        // reps-3 — 8.5 s vs 10.3–12.4 s over three runs each. The
        // payload is packed to TWO integer columns (k = the (w, pa, pb)
        // argmin key, cc = the (ca, cb) label pair) — 24 B/row UnsafeRow
        // — and consumers decode with codegen'd div/mod off the blocks.
        // Rounds after the first relabel only the PREVIOUS round's
        // surviving candidates, never the full edge list: labels only
        // coarsen, so an edge once intra-component can never cross
        // components again — candidate sets shrink monotonically (the
        // standard contraction prune).
        cand = gens.checkpoint((if (r == 1)
            edges.select($"pa", $"pb", $"w",
              $"pa".as("ca"), $"pb".as("cb"))
          else
            cand.select(decodeK ++ decodeCC: _*)
              .join(relab.select($"c".as("ca"), $"m".as("nca")), Seq("ca"))
              .join(relab.select($"c".as("cb"), $"m".as("ncb")), Seq("cb"))
              .select($"pa", $"pb", $"w",
                $"nca".as("ca"), $"ncb".as("cb")))
          .filter($"ca" =!= $"cb")
          .select(packK.as("k"), packCC.as("cc")), ckptLevel)
        // per-component argmin, carrying the winning edge's label pair
        // through the aggregate as min(struct(k, cc)) — k is unique per
        // edge and k ↦ cc is functional, so the struct min is exactly
        // the k min and the old edge-grain "chosen" join (candidates ⋈
        // picked edges, re-fetching ca/cb for the contraction graph) is
        // gone. distinct on (k, cc) ≡ distinct on the decoded triple,
        // same functional dependency. newEdges is checkpointed with the
        // labels attached: it feeds the census aggregate, the
        // contraction graph, and the forest anti-join axis.
        val picks = cand
          .select(explode(array(decodeCC: _*)).as("c"),
            struct($"k", $"cc").as("s"))
          .groupBy($"c").agg(min($"s").as("m"))
          .select($"m"("k").as("k"), $"m"("cc").as("cc"))
          .distinct()
          .select(decodeK ++ decodeCC: _*)
        // a checkpoint, not a persist, at every cross-round relation
        // (the q225 BFS discipline): lineage is cut at the round
        // boundary so plan analysis never compounds across rounds
        val newEdges = gens.checkpoint(if (mst == null) picks
          else picks.join(mst, Seq("pa", "pb"), "left_anti"))
        mst = gens.checkpoint(if (mst == null) newEdges.select($"pa", $"pb")
          else mst.unionByName(newEdges.select($"pa", $"pb")))
        // census in ONE tiny aggregate over the (already checkpointed)
        // new edges + a running weight — round-14 verdict: the old shape
        // ran three separate jobs per round, one of them a sum over the
        // GROWING forest (quadratic-ish re-summing) and one a
        // VERTEX-grain distinct count; the forest weight is the running
        // sum of new-edge weights because the anti-join keeps the rounds
        // (pa, pb)-disjoint, and the component count moves to comps
        // (component grain) below. It ends the round's generation: the
        // previous one (its candidates, forest, round-local maps) was
        // consumed by the relabel and the anti-join that just ran, so at
        // most two candidate generations ever coexist in the storage pool
        // (the high-water Probe measured); round 1 frees the edge list
        val ne = gens.fill(s"boruvkaTrace round $r")(newEdges
          .agg(count(lit(1)), coalesce(sum($"w"), lit(0L))).head())
        mstWeight += ne.getLong(1)
        census += ((s"r${r}_new_edges", ne.getLong(0)))
        census += ((s"r${r}_mst_weight", mstWeight))
        // contraction graph at component grain: the chosen edges' label
        // pairs (one row per chosen edge, symmetrized). It and every hop
        // map are eager checkpoints, not lazy persists: each hop reads cg
        // and the previous map twice (directly and inside msgs), and two
        // AQE stage jobs reading an unfilled cache both compute the same
        // partitions
        val cg = gens.checkpoint(newEdges.select($"ca".as("x"), $"cb".as("y"))
          .unionByName(newEdges.select($"cb".as("x"), $"ca".as("y"))))
        var cm = comps.select($"c", $"c".as("m"))
        for (_ <- 1 to MstHops) {
          val msgs = cg.join(cm.select($"c".as("x"), $"m"), Seq("x"))
            .groupBy($"y").agg(min($"m").as("nm"))
          cm = gens.checkpoint(
            cm.join(msgs.withColumnRenamed("y", "c"), Seq("c"), "left")
              .select($"c", least($"m", coalesce($"nm", $"m")).as("m")))
        }
        comps = gens.checkpoint(cm.select($"m".as("c")).distinct())
        census += ((s"r${r}_components", comps.count()))
        // the contraction map survives into the NEXT round's relabel
        relab = cm
      }
    }
    censusFrame(edges0.sparkSession, census.toSeq)
  }

  val q282BoruvkaSql: String = {
    def hopCtes(r: Int): String = (1 to MstHops).map { h =>
      val prev = if (h == 1) s"cm${r}_0" else s"cm${r}_${h - 1}"
      s"""cm${r}_$h AS MATERIALIZED (
         |  SELECT l.c, least(l.m, coalesce(g.nm, l.m)) AS m
         |  FROM $prev l LEFT JOIN (
         |    SELECT cg.y AS c, min(x.m) AS nm
         |    FROM cg$r cg JOIN $prev x ON cg.x = x.c GROUP BY cg.y) g
         |  ON l.c = g.c)""".stripMargin
    }.mkString(",\n")
    def roundCtes(r: Int): String = {
      val lblPrev = if (r == 1) "lbl0" else s"lbl${r - 1}"
      val anti = if (r == 1) ""
        else s"""
         |  WHERE NOT EXISTS (SELECT 1 FROM mst${r - 1} m
         |    WHERE m.pa = px.pa AND m.pb = px.pb)""".stripMargin
      val mstDef = if (r == 1) s"new$r" else
        s"(SELECT pa, pb, w FROM mst${r - 1} UNION ALL SELECT * FROM new$r)"
      // same contraction prune as the Spark side: rounds after the
      // first scan only the previous round's surviving candidates
      val liveEdges = if (r == 1) "edges"
        else s"(SELECT pa, pb, w FROM cand${r - 1})"
      s"""cand$r AS MATERIALIZED (
         |  SELECT e.pa, e.pb, e.w, la.lbl AS ca, lb.lbl AS cb
         |  FROM $liveEdges e
         |  JOIN $lblPrev la ON la.p = e.pa
         |  JOIN $lblPrev lb ON lb.p = e.pb
         |  WHERE la.lbl <> lb.lbl),
         |picks$r AS MATERIALIZED (
         |  SELECT DISTINCT
         |    CAST((k // ${1L << 36}) // ${1L << 36} AS BIGINT) AS w,
         |    CAST((k // ${1L << 36}) % ${1L << 36} AS BIGINT) AS pa,
         |    CAST(k % ${1L << 36} AS BIGINT) AS pb
         |  FROM (SELECT c, min(k) AS k FROM (
         |      SELECT ca AS c, CAST(w * ${1L << 36} + pa AS HUGEINT)
         |          * ${1L << 36} + pb AS k
         |        FROM cand$r
         |      UNION ALL
         |      SELECT cb, CAST(w * ${1L << 36} + pa AS HUGEINT)
         |          * ${1L << 36} + pb
         |        FROM cand$r)
         |    GROUP BY c)),
         |new$r AS MATERIALIZED (
         |  SELECT px.pa, px.pb, px.w FROM picks$r px$anti),
         |mst$r AS MATERIALIZED (SELECT pa, pb, w FROM $mstDef),
         |cg$r AS MATERIALIZED (
         |  SELECT c.ca AS x, c.cb AS y FROM cand$r c
         |    JOIN new$r n ON n.pa = c.pa AND n.pb = c.pb
         |  UNION ALL
         |  SELECT c.cb, c.ca FROM cand$r c
         |    JOIN new$r n ON n.pa = c.pa AND n.pb = c.pb),
         |cm${r}_0 AS MATERIALIZED (
         |  SELECT DISTINCT lbl AS c, lbl AS m FROM $lblPrev),
         |${hopCtes(r)},
         |lbl$r AS MATERIALIZED (
         |  SELECT l.p, c.m AS lbl FROM $lblPrev l
         |  JOIN cm${r}_$MstHops c ON c.c = l.lbl)""".stripMargin
    }
    val rounds = (1 to MstRounds).map(roundCtes).mkString(",\n")
    val rows = (1 to MstRounds).map { r =>
      s"""SELECT 'r${r}_components' AS metric,
         |    count(DISTINCT lbl) AS value FROM lbl$r
         |  UNION ALL SELECT 'r${r}_new_edges', count(*) FROM new$r
         |  UNION ALL SELECT 'r${r}_mst_weight',
         |    coalesce(CAST(sum(w) AS BIGINT), 0) FROM mst$r""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |edges AS MATERIALIZED (
       |  SELECT pa, pb, 1000000 // n AS w FROM (
       |    SELECT a.l_partkey AS pa, b.l_partkey AS pb,
       |      CAST(count(*) AS BIGINT) AS n
       |    FROM li a JOIN li b USING (l_orderkey)
       |    WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2)),
       |lbl0 AS MATERIALIZED (SELECT p, p AS lbl FROM (
       |  SELECT DISTINCT p FROM (
       |    SELECT pa AS p FROM edges UNION ALL SELECT pb FROM edges))),
       |$rounds
       |SELECT metric, CAST(value AS BIGINT) AS value FROM (
       |  SELECT 'r0_components' AS metric, count(DISTINCT lbl) AS value
       |    FROM lbl0
       |  UNION ALL $rows)
       |ORDER BY metric""".stripMargin
  }

  // =====================================================================
  // q231: sorted-neighborhood matching (Hernández & Stolfo SIGMOD 1995)
  // =====================================================================

  /** Sliding-window size: each record is compared to the [[SnmWindow]]
    * records before/after it in each pass's sorted order. Calibrated so
    * every REACHABLE census class is live at every driver SF (pass-1
    * catches exist down to sf0.001; `typo_caught_both` is structurally
    * empty on a single-typo feed — a typo at the tail digit keeps
    * sorted proximity only in pass 1, anywhere else only pass 2's
    * reversed order can keep the damage local, so no typo survives
    * both sorts). */
  private val SnmWindow = 4

  /** Pass-2 block prefix length (reversed-tail leading digits → 100
    * blocks): the parallel-SNM shard knob — a production registry
    * raises it with data size (each +1 decile-splits every block);
    * 2 keeps blocks populated at the smallest driver SF. */
  private val SnmBlock2Len = 2

  /** Sorted-neighborhood entity matching — the OTHER classic blocking
    * family, run on the SAME derive-messy-from-clean feed as q123 so the
    * two censuses are directly comparable: merge feed and registry into
    * one stream, sort it by a key, and compare only records within a
    * [[SnmWindow]]-wide sliding window (Hernández & Stolfo's multi-pass
    * variant: pass 1 sorts by the 9-digit name tail, pass 2 by its
    * REVERSAL, because a typo near one end of the key destroys sorted
    * proximity in exactly one of the two orders). Unlike q123's parity
    * blocking (100% recall by pigeonhole), SNM trades recall for a
    * hard O(w·N) comparison bound — the census REPORTS that trade
    * honestly against ground truth: which typos each pass catches,
    * which both, which neither, plus the candidate volumes.
    *
    * Scale shape: the textbook SNM global sort is re-expressed as rank
    * WITHIN sort-key-prefix blocks (pass 1: the 6 high-order digits —
    * block count grows linearly with the registry; pass 2: the 3
    * reversed-leading digits — 1000 blocks at any size), the standard
    * parallel-SNM decomposition; window pairs straddling a block
    * boundary are lost, which the ground-truth census prices instead of
    * hiding. Candidate pairs come from offset-exploded EQUI-joins on
    * (pass, block, rank) — never a range join; the bounded-threshold
    * levenshtein verify runs map-side on the join stream BEFORE the
    * distinct's exchange (the q123 lesson). */
  def q231SortedNeighborhood(s: SparkSession, d: String): DataFrame = {
    val clean = Tables.customer(s, d).select($"c_custkey", $"c_name")
    val messy = messyCustomers(clean)
    val merged = clean
      .select(lit(0).as("side"), $"c_custkey".as("rid"), $"c_name".as("name"))
      .union(messy
        .select(lit(1).as("side"), $"true_key".as("rid"), $"m_name".as("name")))
      .select($"side", $"rid", $"name", substring($"name", 10, 9).as("tail"))
    val passes = merged
      .select($"side", $"rid", $"name", lit(1).as("pass"),
        substring($"tail", 1, 6).as("block"), $"tail".as("skey"))
      .union(merged.select($"side", $"rid", $"name", lit(2).as("pass"),
        substring(reverse($"tail"), 1, SnmBlock2Len).as("block"),
        reverse($"tail").as("skey")))
    val w = Window.partitionBy($"pass", $"block")
      .orderBy($"skey", $"side", $"rid")
    val ranked = passes.select($"pass", $"block", $"side", $"rid", $"name",
      row_number().over(w).as("rn"))
    val pairs = ranked
      .select($"pass", $"block", $"rn", $"side".as("sa"), $"rid".as("ra"),
        $"name".as("na"),
        explode(array((1 to SnmWindow).map(lit): _*)).as("off"))
      .select($"pass", $"block", ($"rn" + $"off").as("rn2"),
        $"sa", $"ra", $"na")
      .join(ranked.select($"pass", $"block", $"rn".as("rn2"),
        $"side".as("sb"), $"rid".as("rb"), $"name".as("nb")),
        Seq("pass", "block", "rn2"))
    // candidate volume per pass: ALL window pairs — the comparisons a
    // real SNM run performs (including registry-internal ones)
    val volume = pairs.groupBy($"pass").agg(count(lit(1)).as("n"))
      .select(concat(lit("candidates_pass"), $"pass".cast("string"))
        .as("metric"), $"n")
    val verified = pairs.filter($"sa" =!= $"sb")
      .select($"pass",
        when($"sa" === 1, $"ra").otherwise($"rb").as("mkey"),
        when($"sa" === 1, $"rb").otherwise($"ra").as("ckey"),
        levenshtein(
          when($"sa" === 1, $"na").otherwise($"nb"),
          when($"sa" === 1, $"nb").otherwise($"na"), 1).as("dist"))
      .filter($"dist" >= 0 && $"dist" <= 1)
      .select($"pass", $"mkey", $"ckey").distinct()
    val vRow = verified.agg(count(lit(1)).as("n"))
      .select(lit("verified_pairs").as("metric"), $"n")
    val truePairs = verified.filter($"mkey" === $"ckey")
      .groupBy($"mkey").agg(
        max(when($"pass" === 1, 1).otherwise(0)).as("p1"),
        max(when($"pass" === 2, 1).otherwise(0)).as("p2"))
    val classes = messy
      .join(truePairs, messy("true_key") === truePairs("mkey"), "left")
      .select($"typo", coalesce($"p1", lit(0)).as("p1"),
        coalesce($"p2", lit(0)).as("p2"))
      .select(
        when(!$"typo" && ($"p1" === 1 || $"p2" === 1), "exact_caught")
          .when(!$"typo", "exact_missed")
          .when($"p1" === 1 && $"p2" === 1, "typo_caught_both")
          .when($"p1" === 1, "typo_caught_pass1_only")
          .when($"p2" === 1, "typo_caught_pass2_only")
          .otherwise("typo_missed").as("metric"))
      .groupBy($"metric").agg(count(lit(1)).as("n"))
    classes.union(volume).union(vRow).orderBy($"metric")
  }

  val q231SortedNeighborhoodSql: String =
    s"""WITH $messyCustomersSqlCte,
       |merged AS (
       |  SELECT 0 AS side, c_custkey AS rid, c_name AS name,
       |      substring(c_name, 10, 9) AS tail FROM customer
       |  UNION ALL
       |  SELECT 1, true_key, m_name, substring(m_name, 10, 9) FROM messy),
       |passes AS (
       |  SELECT side, rid, name, 1 AS pass, substring(tail, 1, 6) AS block,
       |      tail AS skey FROM merged
       |  UNION ALL
       |  SELECT side, rid, name, 2, substring(reverse(tail), 1, $SnmBlock2Len),
       |      reverse(tail) FROM merged),
       |ranked AS (SELECT pass, block, side, rid, name,
       |    row_number() OVER (PARTITION BY pass, block
       |      ORDER BY skey, side, rid) AS rn
       |  FROM passes),
       |pairs AS (SELECT a.pass, a.side AS sa, a.rid AS ra, a.name AS na,
       |    b.side AS sb, b.rid AS rb, b.name AS nb
       |  FROM ranked a JOIN ranked b
       |    ON a.pass = b.pass AND a.block = b.block
       |   AND b.rn - a.rn BETWEEN 1 AND $SnmWindow),
       |vol AS (SELECT 'candidates_pass' || pass AS metric,
       |    CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY pass),
       |verified AS (SELECT DISTINCT pass,
       |    CASE WHEN sa = 1 THEN ra ELSE rb END AS mkey,
       |    CASE WHEN sa = 1 THEN rb ELSE ra END AS ckey
       |  FROM pairs WHERE sa <> sb
       |    AND levenshtein(CASE WHEN sa = 1 THEN na ELSE nb END,
       |                    CASE WHEN sa = 1 THEN nb ELSE na END) <= 1),
       |vrow AS (SELECT 'verified_pairs' AS metric,
       |    CAST(count(*) AS BIGINT) AS n FROM verified),
       |tp AS (SELECT mkey,
       |    max(CASE WHEN pass = 1 THEN 1 ELSE 0 END) AS p1,
       |    max(CASE WHEN pass = 2 THEN 1 ELSE 0 END) AS p2
       |  FROM verified WHERE mkey = ckey GROUP BY mkey),
       |cls AS (SELECT CASE
       |      WHEN NOT m.typo AND (coalesce(p1, 0) = 1 OR coalesce(p2, 0) = 1)
       |        THEN 'exact_caught'
       |      WHEN NOT m.typo THEN 'exact_missed'
       |      WHEN coalesce(p1, 0) = 1 AND coalesce(p2, 0) = 1
       |        THEN 'typo_caught_both'
       |      WHEN coalesce(p1, 0) = 1 THEN 'typo_caught_pass1_only'
       |      WHEN coalesce(p2, 0) = 1 THEN 'typo_caught_pass2_only'
       |      ELSE 'typo_missed' END AS metric
       |  FROM messy m LEFT JOIN tp ON tp.mkey = m.true_key)
       |SELECT metric, n FROM (
       |  SELECT metric, CAST(count(*) AS BIGINT) AS n FROM cls GROUP BY metric
       |  UNION ALL SELECT metric, n FROM vol
       |  UNION ALL SELECT metric, n FROM vrow)
       |ORDER BY metric""".stripMargin

  // =====================================================================
  // q232: association-rule mining (Agrawal & Srikant VLDB 1994 family)
  // =====================================================================

  /** Minimum support, percent of orders: 2% keeps the frequent-pair cut
    * LIVE on both sides at every driver SF (159/215/298 of the 300
    * brand pairs pass at sf0.001/0.01/0.1). */
  private val AssocMinSupPct = 2

  /** Strong-rule confidence cut, ppm — sits inside every SF's observed
    * confidence range so both decision branches stay live (rule 10:
    * the decision compares the SAME exact integer both engines). */
  private val AssocStrongPpm = 150000L

  /** Association-rule mining over order baskets — the market-basket
    * operator class (Agrawal & Srikant's Apriori family, public):
    * baskets are the DISTINCT brands each order touches, frequent pairs
    * are kept at [[AssocMinSupPct]]% support, and each surviving pair
    * emits both directed rules a→b and b→a scored by exact-integer
    * support/confidence ppm plus a gridded lift. On skewed real-world
    * baskets the level-wise support prune is what bounds candidate
    * growth; this synthetic market is near-uniform (all 25 brands
    * frequent), so the prune's level-shrink shows in the crafted spec
    * corpus while the driver row proves the counting arithmetic.
    *
    * Determinism: support/confidence are floor divisions of exact
    * non-negative BIGINTs (rule 13); lift runs the identical IEEE
    * double expression both engines AFTER the exact sums (rule 7) and
    * lands on the 1e-6 grid (rule 10); the strong flag compares an
    * exact integer.
    *
    * Scale shape: baskets from ONE lineitem⋈part projection
    * deduplicated at (order, brand) grain; the pair generation is a
    * self-equi-join on the entropy-rich order key with per-order
    * output bounded by C(|basket|, 2) — basket sizes are small by
    * domain (a cart), the classic market-basket bound; supports are
    * map-side-combinable counts on the bounded brand-pair axis; the
    * 1-row order count is a broadcast. */
  def q232AssocRules(s: SparkSession, d: String): DataFrame = {
    val basket = Tables.lineitem(s, d)
      .select($"l_orderkey".as("o"), $"l_partkey")
      .join(Tables.part(s, d).select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .select($"o", $"p_brand".as("br")).distinct()
    assocRules(basket)
  }

  private[graft] def assocRules(basket: DataFrame): DataFrame = {
    val no = basket.agg(countDistinct($"o").as("no"))
    val l1 = basket.groupBy($"br").agg(count(lit(1)).as("cnt"))
    val pairs = basket.as("b1")
      .join(basket.as("b2"), $"b1.o" === $"b2.o" && $"b1.br" < $"b2.br")
      .select($"b1.br".as("a"), $"b2.br".as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("sup"))
    val f2 = pairs.crossJoin(broadcast(no))
      .filter($"sup" * 100 >= lit(AssocMinSupPct) * $"no")
    val rules = f2.select($"a".as("ante"), $"b".as("cons"), $"sup", $"no")
      .union(f2.select($"b", $"a", $"sup", $"no"))
      .join(l1.select($"br".as("ante"), $"cnt".as("sa")), Seq("ante"))
      .join(l1.select($"br".as("cons"), $"cnt".as("sc")), Seq("cons"))
    rules.select($"ante", $"cons", $"sup".as("support"),
      expr("(sup * 1000000) div no").as("support_ppm"),
      expr("(sup * 1000000) div sa").as("conf_ppm"),
      floor(lit(1000000.0) * ($"sup".cast("double") * $"no") /
        ($"sa".cast("double") * $"sc") + 0.5).as("lift_ppm"),
      (expr("(sup * 1000000) div sa") >= AssocStrongPpm).as("strong"))
      .orderBy($"ante", $"cons")
  }

  val q232AssocRulesSql: String =
    s"""WITH basket AS (SELECT DISTINCT l_orderkey AS o, p_brand AS br
       |    FROM lineitem JOIN part ON l_partkey = p_partkey),
       |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS no FROM basket),
       |l1 AS (SELECT br, CAST(count(*) AS BIGINT) AS cnt
       |  FROM basket GROUP BY br),
       |pr AS (SELECT b1.br AS a, b2.br AS b, CAST(count(*) AS BIGINT) AS sup
       |  FROM basket b1 JOIN basket b2 ON b1.o = b2.o AND b1.br < b2.br
       |  GROUP BY 1, 2),
       |f2 AS (SELECT a, b, sup, no FROM pr CROSS JOIN n
       |  WHERE sup * 100 >= $AssocMinSupPct * no),
       |ru AS (SELECT a AS ante, b AS cons, sup, no FROM f2
       |  UNION ALL SELECT b, a, sup, no FROM f2)
       |SELECT ru.ante, ru.cons, ru.sup AS support,
       |  (ru.sup * 1000000) // ru.no AS support_ppm,
       |  (ru.sup * 1000000) // la.cnt AS conf_ppm,
       |  CAST(floor((1000000.0 * (CAST(ru.sup AS DOUBLE) * ru.no))
       |    / (CAST(la.cnt AS DOUBLE) * lc.cnt) + 0.5) AS BIGINT) AS lift_ppm,
       |  ((ru.sup * 1000000) // la.cnt >= $AssocStrongPpm) AS strong
       |FROM ru JOIN l1 la ON la.br = ru.ante JOIN l1 lc ON lc.br = ru.cons
       |ORDER BY ante, cons""".stripMargin

  // ---------------------------------------------------------------
  // q237: HITS hubs & authorities (Kleinberg 1999, alternating steps)
  // ---------------------------------------------------------------

  private val HitsTopK = 20

  /** HITS over the bipartite customer→part purchase graph (Kleinberg,
    * J. ACM 1999, public) — the mutual-reinforcement ranking beside
    * q110's pagerank: a part is a strong AUTHORITY when strong-hub
    * customers buy it, a customer a strong HUB when they buy strong-
    * authority parts. Alternating half-steps a₁ = indegree →
    * h₁ = Σ a₁ over each hub's parts → a₂ = Σ h₁ over each part's
    * buyers, each half-step renormalized onto the integer ppb grid
    * exactly as q110's power iteration (floor of an identical-IEEE
    * double divide by the 1-row L1 total — rule 7); output is the
    * top-[[HitsTopK]] of each role with unique (score desc, id)
    * tie-breaks.
    *
    * Scale: each half-step is one equi-join of the edge list to the
    * previous score relation plus a map-side-combinable aggregate —
    * the Pregel message round expressed declaratively, |E|-bounded
    * like q110; each half-step's raw scores are a
    * [[Blocks.generations]] generation whose L1 total (the census) is
    * the action that fills them, and the total divides as a literal;
    * each top-k is TakeOrdered read to the driver (2 × [[HitsTopK]]
    * rows), never a global sort materialization. */
  def q237Hits(s: SparkSession, d: String): DataFrame =
    hits(Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_partkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("c"), $"l_partkey".as("p")).distinct())

  private[graft] def hits(edges: DataFrame): DataFrame = {
    val rows = Blocks.generations { gens =>
      // the edge list is pinned: every half-step reads it
      val e = gens.pin(edges)
      // one half-step: its raw scores are the generation, and their L1
      // total — the census — is the action that fills them; the scores
      // divide by that total as a literal
      def halfStep(raw: DataFrame, key: String, what: String): DataFrame = {
        val d = gens.keep(raw)
        val tot = gens.fill(what)(d.agg(sum($"raw")).head().get(0))
        d.select(col(key),
          floor($"raw".cast("double") * 1000000000.0 / lit(tot))
            .cast("long").as("s"))
      }
      def top(scores: DataFrame, key: String, role: String) =
        scores.orderBy($"s".desc, col(key)).take(HitsTopK)
          .map(r => (role, r.getLong(0), r.getLong(1))).toSeq
      val a1 = halfStep(e.groupBy($"p").agg(count(lit(1)).as("raw")), "p",
        "hits: authority 1")
      val h1 = halfStep(e.join(a1, "p").groupBy($"c")
        .agg(sum($"s").as("raw")), "c", "hits: hub 1")
      // read before the next half-step frees h1's generation
      val hubs = top(h1, "c", "hub")
      val a2 = halfStep(e.join(h1, "c").groupBy($"p")
        .agg(sum($"s").as("raw")), "p", "hits: authority 2")
      top(a2, "p", "authority") ++ hubs
    }
    edges.sparkSession.createDataFrame(rows).toDF("role", "node_id", "score_ppb")
  }

  val q237HitsSql: String =
    s"""WITH edges AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS c,
       |    l.l_partkey AS p
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |a1r AS (SELECT p, CAST(count(*) AS BIGINT) AS raw
       |  FROM edges GROUP BY p),
       |a1t AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM a1r),
       |a1 AS MATERIALIZED (SELECT p, CAST(floor(CAST(raw AS DOUBLE)
       |    * 1000000000.0 / tot) AS BIGINT) AS s FROM a1r, a1t),
       |h1r AS (SELECT c, CAST(sum(a1.s) AS BIGINT) AS raw
       |  FROM edges JOIN a1 USING (p) GROUP BY c),
       |h1t AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM h1r),
       |h1 AS MATERIALIZED (SELECT c, CAST(floor(CAST(raw AS DOUBLE)
       |    * 1000000000.0 / tot) AS BIGINT) AS s FROM h1r, h1t),
       |a2r AS (SELECT p, CAST(sum(h1.s) AS BIGINT) AS raw
       |  FROM edges JOIN h1 USING (c) GROUP BY p),
       |a2t AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM a2r),
       |a2 AS (SELECT p, CAST(floor(CAST(raw AS DOUBLE)
       |    * 1000000000.0 / tot) AS BIGINT) AS s FROM a2r, a2t)
       |SELECT * FROM (
       |  (SELECT 'authority' AS role, p AS node_id, s AS score_ppb
       |   FROM a2 ORDER BY s DESC, p LIMIT $HitsTopK)
       |  UNION ALL
       |  (SELECT 'hub' AS role, c AS node_id, s AS score_ppb
       |   FROM h1 ORDER BY s DESC, c LIMIT $HitsTopK))
       |ORDER BY role, score_ppb DESC, node_id""".stripMargin

  // ---------------------------------------------------------------
  // q238: local clustering coefficient census (Watts–Strogatz 1998)
  // ---------------------------------------------------------------

  /** Per-node local clustering coefficient over the part co-purchase
    * graph (Watts–Strogatz 1998, public): c(v) = 2·t(v)/(deg(v)·
    * (deg(v)−1)), the probability two of v's neighbors are themselves
    * connected — the node-grain refinement of q189's global census
    * (global transitivity says the graph clusters; this says WHERE).
    * Output is the bounded 11-band coefficient histogram (band =
    * coeff_ppm div 1e5), the scale-correct shape — a per-node list is
    * corpus-sized, the census is metadata.
    *
    * Per-node triangle counts come from the SAME degree-ordered
    * oriented closing as q189 (each triangle materializes once at its
    * minimum-okey vertex, then credits all three corners via a 3-row
    * explode), so the hub-proof Σ outdeg² wedge bound carries over
    * unchanged; deg ≥ 2 filters the undefined coefficients.
    *
    * Determinism: pure integer arithmetic end to end — coeff_ppm is a
    * non-negative floor division (rule 13; deg < 2³¹ keeps
    * deg·(deg−1) in BIGINT, the q189 guard), band and band mean are
    * integer floor divisions. */
  def q238ClusteringCoeff(s: SparkSession, d: String): DataFrame =
    clusteringCoeffFrom(degOf(coEdgesStaged(s, d)), trianglesStaged(s, d))

  private[graft] def clusteringCoeffBands(edges: DataFrame): DataFrame = {
    val (deg, _, _, tri) = triangleParts(edges)
    clusteringCoeffFrom(deg, tri)
  }

  /** The coefficient/banding layer over any (deg, tri) pair — the
    * spec replays it on crafted edge lists via
    * [[clusteringCoeffBands]]; q238 feeds it the STAGED relations. */
  private def clusteringCoeffFrom(deg: DataFrame, tri: DataFrame): DataFrame = {
    val tcnt = tri.select(explode(array($"u", $"v", $"w")).as("p"))
      .groupBy($"p").agg(count(lit(1)).as("t"))
    val per = deg.filter($"deg" >= 2L)
      .join(tcnt, Seq("p"), "left")
      .select($"p", $"deg", coalesce($"t", lit(0L)).as("t"))
      .select($"p", $"deg", $"t",
        expr("(2 * t * 1000000) div (deg * (deg - 1))").as("coeff_ppm"))
    per.groupBy(expr("coeff_ppm div 100000").as("band"))
      .agg(count(lit(1)).as("n_nodes"), sum($"t").as("sum_tri"),
        sum($"coeff_ppm").as("sc"))
      .select($"band", $"n_nodes", $"sum_tri",
        expr("sc div n_nodes").as("mean_coeff_ppm"))
      .orderBy($"band")
  }

  val q238ClusteringCoeffSql: String =
    s"""WITH $coEdgesSql,
       |edges AS (SELECT pa, pb FROM edges0),
       |$triangleCtesSql,
       |tc AS (SELECT p, CAST(count(*) AS BIGINT) AS t FROM (
       |    SELECT u AS p FROM tri UNION ALL SELECT v FROM tri
       |    UNION ALL SELECT w FROM tri) GROUP BY p),
       |per AS (SELECT d.p, d.deg, coalesce(tc.t, 0) AS t,
       |    (2 * coalesce(tc.t, 0) * 1000000) // (d.deg * (d.deg - 1))
       |      AS coeff_ppm
       |  FROM deg d LEFT JOIN tc ON tc.p = d.p WHERE d.deg >= 2)
       |SELECT coeff_ppm // 100000 AS band,
       |  CAST(count(*) AS BIGINT) AS n_nodes,
       |  CAST(sum(t) AS BIGINT) AS sum_tri,
       |  CAST(sum(coeff_ppm) AS BIGINT) // count(*) AS mean_coeff_ppm
       |FROM per GROUP BY 1 ORDER BY band""".stripMargin

  // ---------------------------------------------------------------
  // q239: link prediction by resource allocation (Zhou et al. 2009)
  // ---------------------------------------------------------------

  /** Wedge centers above this degree are excluded: they carry ≤
    * cap⁻¹ RA weight per wedge (negligible by construction) and are
    * exactly the hubs that would unbound the Σ deg² center
    * expansion. The cap makes the wedge build O(cap·|E|). */
  private val LinkDegCap = 256L
  private val LinkTopK = 20

  /** Link prediction over the DOULION-sparsified co-purchase graph
    * (q194's 1/8 md5 coin): score every non-adjacent part pair by the
    * resource-allocation index RA(v,w) = Σ_{u ∈ Γ(v)∩Γ(w)} 1/deg(u)
    * (Zhou–Lü–Zhang, EPJ B 2009, public — the common-neighbors family
    * member that needs NO transcendental, unlike Adamic–Adar's 1/log),
    * emit the top-[[LinkTopK]] candidate edges — the recommender
    * candidate-generation step run on the cheap monitoring subgraph.
    *
    * Wedges here must be centered at EVERY common neighbor (unlike
    * q189's oriented wedges, which materialize each wedge only at its
    * minimum-okey corner — orientation counts triangles once, but
    * undercounts common neighbors), so the center expansion is the
    * full Σ deg² — bounded instead by the [[LinkDegCap]] degree cap on
    * centers, with the 1/8 edge sampling shrinking it a further ~64×.
    *
    * Determinism: the coin is the exact md5 hex-prefix 1/8 (q194's
    * constant); RA rides the integer ppm grid (1e6 div deg — exact,
    * non-negative); candidate pairs are unique (v, w) keys so the
    * (ra, cn, v, w) top-k order is total. */
  def q239LinkPredict(s: SparkSession, d: String): DataFrame =
    linkPredict(coEdgesStaged(s, d).filter(
      md5(concat($"pa".cast("string"), lit("_"), $"pb".cast("string")))
        < TriSampleHexCut))

  private[graft] def linkPredict(edges0: DataFrame): DataFrame = {
    // round 15: eager lineage cuts — edges is referenced three times
    // (both union arms of adj, the non-adjacency anti-join) and cadj
    // twice (the wedge self-join), so the lazy plan re-evaluated the
    // sampled-edge scan and the degree join per reference (Probe:
    // four ~2 s jobs for one ~2 s relation).
    val edges = edges0.localCheckpoint(true)
    val adj = edges.select($"pa".as("u"), $"pb".as("v"))
      .union(edges.select($"pb".as("u"), $"pa".as("v")))
    val dg = adj.groupBy($"u").agg(count(lit(1)).as("deg"))
    val cadj = adj.join(
      dg.filter($"deg" >= 2L && $"deg" <= LinkDegCap), Seq("u"))
      .localCheckpoint(true)
    val pairs = cadj.select($"u", $"v", $"deg")
      .join(cadj.select($"u", $"v".as("w")), Seq("u"))
      .filter($"v" < $"w")
      .groupBy($"v", $"w")
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div deg")).as("ra_ppm"))
    pairs
      .join(edges, pairs("v") === edges("pa") && pairs("w") === edges("pb"),
        "left_anti")
      .orderBy($"ra_ppm".desc, $"cn".desc, $"v", $"w").limit(LinkTopK)
      .select($"v".as("part_a"), $"w".as("part_b"),
        $"cn".as("common_neighbors"), $"ra_ppm")
      .orderBy($"ra_ppm".desc, $"common_neighbors".desc,
        $"part_a", $"part_b")
  }

  val q239LinkPredictSql: String =
    s"""WITH $coEdgesSql,
       |edges AS MATERIALIZED (SELECT pa, pb FROM edges0
       |  WHERE md5(CAST(pa AS VARCHAR) || '_' || CAST(pb AS VARCHAR))
       |    < '$TriSampleHexCut'),
       |adj AS MATERIALIZED (SELECT pa AS u, pb AS v FROM edges
       |  UNION ALL SELECT pb, pa FROM edges),
       |dg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
       |  FROM adj GROUP BY u),
       |ce AS MATERIALIZED (SELECT a.u, a.v, d.deg
       |  FROM adj a JOIN dg d USING (u)
       |  WHERE d.deg >= 2 AND d.deg <= $LinkDegCap),
       |pr AS (SELECT a.v, b.v AS w, CAST(count(*) AS BIGINT) AS cn,
       |    CAST(sum(1000000 // a.deg) AS BIGINT) AS ra_ppm
       |  FROM ce a JOIN ce b ON a.u = b.u AND a.v < b.v
       |  GROUP BY 1, 2),
       |ne AS (SELECT pr.v, pr.w, pr.cn, pr.ra_ppm FROM pr
       |  LEFT JOIN edges e ON e.pa = pr.v AND e.pb = pr.w
       |  WHERE e.pa IS NULL)
       |SELECT v AS part_a, w AS part_b, cn AS common_neighbors, ra_ppm
       |FROM ne ORDER BY ra_ppm DESC, cn DESC, part_a, part_b
       |LIMIT $LinkTopK""".stripMargin

  // ---------------------------------------------------------------
  // q250: degree assortativity (Newman 2002 degree correlation)
  // ---------------------------------------------------------------

  /** Degree assortativity of the part co-purchase graph (Newman, PRL
    * 2002, public): the Pearson correlation of excess degrees
    * (deg − 1) across edge endpoints — positive means hubs co-occur
    * with hubs (assortative mixing), negative means hub-and-spoke
    * (the common retail shape). The fourth member of the graph-
    * structure battery (q189 census, q238 local clustering, q197
    * k-core): one number that says which large-scale topology the
    * dedup/recommendation operators will face.
    *
    * r = (4m·S3 − S1²) / (2m·S2 − S1²) where, over undirected edges,
    * S1 = Σ(ja+jb), S2 = Σ(ja²+jb²), S3 = Σ ja·jb on excess degrees —
    * the textbook edge-moment formulation: ONE degree aggregate, one
    * equi-join of degrees onto the edge list, one map-side-combinable
    * moment aggregate; everything after is a 1-row expression.
    *
    * Determinism: the moments are exact BIGINT sums (degrees < 2³¹
    * by q189's guard class; S2/S3 terms < 2⁶² per edge, sums exact
    * under 2⁶³ for any bench-scale graph — the corpus-scale fallback
    * is the rule-7 pattern already in the final expression, where
    * the cross products run in double AFTER the exact sums, q80
    * discipline); the ratio is ppm-gridded with the shared
    * floor(x+0.5), degenerate (zero-variance) denominators CASE to
    * NULL identically both sides. */
  def q250Assortativity(s: SparkSession, d: String): DataFrame =
    assortativity(coEdgesStaged(s, d))

  private[graft] def assortativity(edges: DataFrame): DataFrame = {
    val deg = edges.select(explode(array($"pa", $"pb")).as("p"))
      .groupBy($"p").agg(count(lit(1)).as("deg"))
    val el = edges
      .join(deg.select($"p".as("pa"), ($"deg" - 1L).as("ja")), "pa")
      .join(deg.select($"p".as("pb"), ($"deg" - 1L).as("jb")), "pb")
    val mom = el.agg(count(lit(1)).as("m"),
      sum($"ja" + $"jb").as("s1"),
      sum($"ja" * $"ja" + $"jb" * $"jb").as("s2"),
      sum($"ja" * $"jb").as("s3"))
    mom.select($"m", $"s1", $"s2", $"s3",
      when(lit(2.0) * $"m" * $"s2" - $"s1".cast("double") * $"s1" =!= 0.0,
        floor((lit(4.0) * $"m" * $"s3" - $"s1".cast("double") * $"s1") /
          (lit(2.0) * $"m" * $"s2" - $"s1".cast("double") * $"s1") *
          1000000.0 + 0.5).cast("long")).as("r_ppm"))
  }

  val q250AssortativitySql: String =
    s"""WITH $coEdgesSql,
       |edges AS (SELECT pa, pb FROM edges0),
       |deg AS (SELECT p, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT pa AS p FROM edges UNION ALL SELECT pb FROM edges)
       |  GROUP BY p),
       |el AS (SELECT a.deg - 1 AS ja, b.deg - 1 AS jb
       |  FROM edges e
       |  JOIN deg a ON a.p = e.pa
       |  JOIN deg b ON b.p = e.pb),
       |mom AS (SELECT CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(ja + jb) AS BIGINT) AS s1,
       |    CAST(sum(ja * ja + jb * jb) AS BIGINT) AS s2,
       |    CAST(sum(ja * jb) AS BIGINT) AS s3
       |  FROM el)
       |SELECT m, s1, s2, s3,
       |  CASE WHEN 2.0 * m * s2 - CAST(s1 AS DOUBLE) * s1 <> 0.0
       |    THEN CAST(floor((4.0 * m * s3 - CAST(s1 AS DOUBLE) * s1) /
       |      (2.0 * m * s2 - CAST(s1 AS DOUBLE) * s1) * 1000000.0
       |      + 0.5) AS BIGINT) END AS r_ppm
       |FROM mom""".stripMargin

}
