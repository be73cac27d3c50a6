package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Relational.{moneySum, sqlMoneySum, sqlRound, stableRound}
import graft.sources.Tables

import graft.syntax._

/** Time-series operators over the `events` table: tumbling-window
  * aggregation (the batch twin of the Structured Streaming path in
  * [[graft.streaming.EventStream]]), gap-based sessionization, and a
  * scalable as-of join — the natural extension of the reference's
  * weekly-COT ⋈ daily-price join need (SURVEY.md §2.3 "as-of" note).
  *
  * Scale shape: every operator is one shuffle on `user_id` (or the
  * window key) with all per-user logic expressed as window functions —
  * no driver-side state, no per-group collect. The as-of join is the
  * union-then-window formulation: O(n log n) within partitions, a single
  * exchange, no range-join blowup.
  */
object EventOps {

  /** Seconds-precision epoch — `cast(ts as long)` floors to the second in
    * Spark; the oracle mirrors with `floor(epoch(ts))`. Kills the
    * ns-vs-µs precision mismatch between parquet readers. */
  private def sec(c: Column): Column = c.cast("long")

  private def tstr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  // ---------------------------------------------------------------
  // q30: tumbling-window aggregation (batch form)
  // ---------------------------------------------------------------

  def q30EventsTumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", $"ts").as("w"), $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        moneySum($"value").as("sum_value"),
        countDistinct($"user_id").as("n_users"))
      .select(date_format($"w", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        $"event_type", $"n_events", $"sum_value", $"n_users")
      .orderBy($"window_start", $"event_type")

  val q30EventsTumblingSql: String =
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       |  event_type, count(*) AS n_events,
       |  ${sqlMoneySum("value")} AS sum_value,
       |  count(DISTINCT user_id) AS n_users
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q31: gap-based sessionization (30-minute inactivity boundary)
  // ---------------------------------------------------------------

  private val SessionGapSec = 1800L

  /** Gap-based sessionization as a reusable operator: assigns a
    * per-key `session_seq` (1-based) where a new session starts after
    * more than `gapSec` of inactivity. One shuffle on the key; boundary
    * detection and numbering are window expressions (no state, no
    * driver loops). `tieCol` must make (tsSec, tieCol) unique per key. */
  def sessionize(df: DataFrame, key: String, tsSec: String, tieCol: String,
      gapSec: Long): DataFrame = {
    val byTime = Window.partitionBy(col(key)).orderBy(col(tsSec), col(tieCol))
    df
      .withColumn("__prev_s", lag(col(tsSec), 1).over(byTime))
      .withColumn("__boundary",
        when(col("__prev_s").isNull || (col(tsSec) - col("__prev_s")) > gapSec, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("__boundary")).over(byTime.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__prev_s", "__boundary")
  }

  def q31Sessionize(s: SparkSession, d: String): DataFrame = {
    val events = sessionize(
      Tables.events(s, d)
        .select($"user_id", $"event_id", sec($"ts").as("s"), $"value"),
      key = "user_id", tsSec = "s", tieCol = "event_id", gapSec = SessionGapSec)
    events.groupBy($"user_id", $"session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min($"s").as("start_s"),
        max($"s").as("end_s"),
        moneySum($"value").as("sum_value"))
      .select($"user_id", $"session_seq", $"n_events",
        ($"end_s" - $"start_s").as("duration_s"), $"sum_value")
      .orderBy($"user_id", $"session_seq")
  }

  val q31SessionizeSql: String =
    s"""WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s, value
       |           FROM events),
       |b AS (SELECT user_id, event_id, s, value,
       |        CASE WHEN lag(s, 1) OVER w IS NULL
       |               OR s - lag(s, 1) OVER w > $SessionGapSec
       |             THEN 1 ELSE 0 END AS boundary
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
       |sess AS (SELECT user_id, event_id, s, value,
       |           CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY s, event_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
       |         FROM b)
       |SELECT user_id, session_seq, count(*) AS n_events,
       |  max(s) - min(s) AS duration_s,
       |  ${sqlMoneySum("value")} AS sum_value
       |FROM sess GROUP BY user_id, session_seq
       |ORDER BY user_id, session_seq""".stripMargin

  // ---------------------------------------------------------------
  // q32: as-of join — for each click, the user's most recent purchase
  // ---------------------------------------------------------------

  /** Generic scalable as-of join: for each left row, the greatest right
    * timestamp ≤ the left timestamp within the same key. Implemented as
    * union → single shuffle on the key → running max over a masked
    * column. At equal timestamps the right side sorts first (inclusive
    * `<=` semantics). O(n log n) per partition, one exchange — no
    * range-join explosion, works at any key cardinality. */
  def asofLastRightTs(
      left: DataFrame, right: DataFrame,
      key: String, ts: String, leftId: String): DataFrame = {
    val l = left.select(col(key), col(ts).as("t"), col(leftId), lit(1).as("tag"))
    val r = right.select(col(key), col(ts).as("t"),
      lit(null).cast(left.schema(leftId).dataType).as(leftId), lit(0).as("tag"))
    val w = Window.partitionBy(col(key))
      .orderBy(col("t"), col("tag"), col(leftId))
      .rowsBetween(Window.unboundedPreceding, 0)
    l.unionByName(r)
      .withColumn("asof_t", max(when(col("tag") === 0, col("t"))).over(w))
      .filter(col("tag") === 1)
      .drop("tag")
  }

  def q32AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", sec($"ts").as("s"), $"event_id")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", sec($"ts").as("s"))
    asofLastRightTs(
      clicks.withColumnRenamed("s", "ts_s"),
      purchases.withColumnRenamed("s", "ts_s"),
      key = "user_id", ts = "ts_s", leftId = "event_id")
      .select($"user_id", $"event_id",
        $"t".as("click_s"),
        coalesce($"asof_t", lit(-1L)).as("last_purchase_s"))
      .orderBy($"user_id", $"event_id")
  }

  val q32AsofJoinSql: String =
    """WITH c AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
      |      FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, c.event_id, c.s AS click_s,
      |  coalesce((SELECT max(p.s) FROM p
      |            WHERE p.user_id = c.user_id AND p.s <= c.s), -1) AS last_purchase_s
      |FROM c ORDER BY c.user_id, c.event_id""".stripMargin

  // ---------------------------------------------------------------
  // q38: binned range join — clicks ⋈ purchases within ±1 hour
  // ---------------------------------------------------------------

  private val RangeSec = 3600L

  /** Scalable range join: Spark plans a raw inequality join as a
    * broadcast nested loop. Binning turns it into an EQUI-join: bin both
    * sides by `width`, replicate the right side into its bin ± 1, join on
    * (key, bin), refine with the exact predicate. Each qualifying pair
    * matches in exactly one bin — no dedup needed. Shuffle cost is 3× the
    * right side instead of |L|×|R|. */
  def binnedRangeJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, width: Long): DataFrame = {
    val l = left.withColumn("__bin", floor(col(leftTs) / width))
    val r = right
      .withColumn("__bin", explode(array(
        floor(col(rightTs) / width) - 1,
        floor(col(rightTs) / width),
        floor(col(rightTs) / width) + 1)))
    l.join(r, Seq(key, "__bin"))
      .filter(abs(col(leftTs) - col(rightTs)) <= width)
      .drop("__bin")
  }

  def q38RangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", sec($"ts").as("click_s"), $"event_id")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", sec($"ts").as("purchase_s"),
        $"event_id".as("purchase_id"))
    binnedRangeJoin(clicks, purchases, "user_id", "click_s", "purchase_s", RangeSec)
      .select($"user_id", $"event_id", $"purchase_id",
        ($"purchase_s" - $"click_s").as("gap_s"))
      .orderBy($"user_id", $"event_id", $"purchase_id")
  }

  val q38RangeJoinSql: String =
    s"""WITH c AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS click_s, event_id
       |           FROM events WHERE event_type = 'click'),
       |p AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS purchase_s,
       |             event_id AS purchase_id
       |      FROM events WHERE event_type = 'purchase')
       |SELECT c.user_id, c.event_id, p.purchase_id,
       |  p.purchase_s - c.click_s AS gap_s
       |FROM c JOIN p ON c.user_id = p.user_id
       |  AND abs(c.click_s - p.purchase_s) <= $RangeSec
       |ORDER BY c.user_id, c.event_id, p.purchase_id""".stripMargin

  // ---------------------------------------------------------------
  // q41: JSON column extraction (the props payload)
  // ---------------------------------------------------------------

  def q41JsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      // from_json with an explicit schema parses each document ONCE into
      // a struct (get_json_object would re-walk the JSON per extracted
      // path — at N paths that's N parses per row)
      .select($"event_type",
        from_json($"props", "k LONG", Map.empty[String, String]).getField("k").as("k"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"))
      .orderBy($"event_type")

  val q41JsonExtractSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q73: sliding (hopping) window aggregation
  // ---------------------------------------------------------------

  /** Hopping-window aggregation via Spark's native `window()` — 1-hour
    * windows every 30 minutes, so each event lands in exactly
    * size/slide = 2 windows. The replication factor is the window
    * arithmetic's, not a join's: `window()` plans as one Expand-style
    * projection before the hash aggregate, so the shuffle carries
    * 2× the events, grouped on (window, type) — the same map-side-
    * combinable shape as q30's tumbling twin, just denser. The oracle
    * reconstructs the window assignment arithmetically (for positive
    * epochs, floor(ts/slide) over the µs value equals floor over the
    * floored-second value, so the two derivations agree exactly). */
  def q73SlidingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"), $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        moneySum($"value").as("sum_value"),
        countDistinct($"user_id").as("n_users"))
      .select(tstr($"w.start").as("window_start"), $"event_type",
        $"n_events", $"sum_value", $"n_users")
      .orderBy($"window_start", $"event_type")

  val q73SlidingWindowSql: String =
    s"""WITH wins AS (
       |  SELECT make_timestamp(
       |      ((epoch_us(ts) // CAST(1800000000 AS BIGINT)) - k)
       |        * CAST(1800000000 AS BIGINT)) AS win_start,
       |    event_type, value, user_id
       |  FROM events, UNNEST(range(0, 2)) AS t(k))
       |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       |  event_type, count(*) AS n_events,
       |  ${sqlMoneySum("value")} AS sum_value,
       |  count(DISTINCT user_id) AS n_users
       |FROM wins GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q81: ordered funnel analysis (view → click → purchase)
  // ---------------------------------------------------------------

  /** Classic ordered funnel: users who viewed, then clicked strictly
    * after their first view, then purchased strictly after that first
    * qualifying click. First-touch semantics (min timestamp per step)
    * make each stage a pure aggregate — no per-user sequence scan, no
    * session state. All comparisons run at seconds precision
    * ([[sec]] — the ns-vs-µs parquet-reader guard every temporal
    * operator here uses).
    *
    * Scale shape: three chained (filter → per-user min → join) passes,
    * each shuffling only user-grain rows on user_id; the event table
    * itself is scanned with the stage's type filter pushed to parquet.
    * Output is one row of stage counts + gridded conversion rates. */
  def q81Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select($"user_id", $"event_type",
      sec($"ts").as("t"))
    val u1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"t").as("t1"))
    val u2 = ev.filter($"event_type" === "click")
      .join(u1, "user_id").filter($"t" > $"t1")
      .groupBy($"user_id").agg(min($"t").as("t2"))
    val u3 = ev.filter($"event_type" === "purchase")
      .join(u2, "user_id").filter($"t" > $"t2")
      .groupBy($"user_id").agg(min($"t").as("t3"))
    u1.agg(count(lit(1)).as("n_view"))
      .crossJoin(broadcast(u2.agg(count(lit(1)).as("n_click"))))
      .crossJoin(broadcast(u3.agg(count(lit(1)).as("n_purchase"))))
      .select($"n_view", $"n_click", $"n_purchase",
        stableRound($"n_click" / $"n_view", 6).as("view_to_click"),
        stableRound($"n_purchase" / $"n_click", 6).as("click_to_purchase"))
  }

  val q81FunnelSql: String =
    s"""WITH ev AS (SELECT user_id, event_type,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
       |u1 AS (SELECT user_id, min(t) AS t1 FROM ev
       |       WHERE event_type = 'view' GROUP BY user_id),
       |u2 AS (SELECT e.user_id, min(e.t) AS t2 FROM ev e
       |       JOIN u1 USING (user_id)
       |       WHERE e.event_type = 'click' AND e.t > u1.t1 GROUP BY e.user_id),
       |u3 AS (SELECT e.user_id, min(e.t) AS t3 FROM ev e
       |       JOIN u2 USING (user_id)
       |       WHERE e.event_type = 'purchase' AND e.t > u2.t2 GROUP BY e.user_id)
       |SELECT (SELECT count(*) FROM u1) AS n_view,
       |  (SELECT count(*) FROM u2) AS n_click,
       |  (SELECT count(*) FROM u3) AS n_purchase,
       |  ${sqlRound("(SELECT count(*) FROM u2) / (SELECT count(*) FROM u1)", 6)}
       |    AS view_to_click,
       |  ${sqlRound("(SELECT count(*) FROM u3) / (SELECT count(*) FROM u2)", 6)}
       |    AS click_to_purchase""".stripMargin

  // ---------------------------------------------------------------
  // q82: cohort retention (first-seen day × activity-day offset)
  // ---------------------------------------------------------------

  /** Cohort retention triangle: users grouped by first-seen epoch day,
    * counted on each later day they were active. Two user-grain
    * aggregates joined on user_id, then a (cohort, offset) count —
    * the standard product-analytics rollup, with day arithmetic on
    * exact integers (epoch seconds // 86400).
    *
    * Scale shape: shuffles carry user-day-grain rows (already
    * distinct-collapsed by the first aggregate), never raw events;
    * the cohort join is user-grain on both sides. */
  def q82Retention(s: SparkSession, d: String): DataFrame = {
    val byDay = Tables.events(s, d)
      .select($"user_id", (sec($"ts") / 86400).cast("long").as("day"))
      .distinct()
    val cohort = byDay.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    byDay.join(cohort, "user_id")
      .groupBy($"cohort_day", ($"day" - $"cohort_day").as("day_offset"))
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_day", $"day_offset")
  }

  val q82RetentionSql: String =
    """WITH byday AS (SELECT DISTINCT user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
      |cohort AS (SELECT user_id, min(day) AS cohort_day FROM byday
      |           GROUP BY user_id)
      |SELECT c.cohort_day, b.day - c.cohort_day AS day_offset,
      |  count(DISTINCT b.user_id) AS n_users
      |FROM byday b JOIN cohort c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q75: calendar gap-fill with last-observation-carried-forward
  // ---------------------------------------------------------------

  /** Daily resample of per-priority order totals onto a complete
    * calendar spine, with gaps filled by LOCF — the classic
    * daily-price-series repair (the reference's price CSVs skip
    * weekends/holidays; any calendar-joined analysis needs this
    * densification first). Gap days report n_orders = 0 and carry the
    * last seen total; days before a series' first observation stay
    * NULL in both engines.
    *
    * Scale shape: the spine is metadata-sized (days × keys — a few
    * thousand rows per decade per key), built by one 1-row min/max
    * aggregate + sequence(), then LEFT-joined by the daily aggregate.
    * The LOCF window partitions by the series key — per-series state,
    * parallelism scales with the number of series (at 100 TB: many
    * thousands of instruments), never a global sort. */
  def q75GapFill(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d).select(
      $"o_orderpriority".as("prio"),
      to_date($"o_orderdate").as("day"),
      $"o_totalprice")
    val daily = ord.groupBy($"prio", $"day")
      .agg(moneySum($"o_totalprice").as("day_total"),
        count(lit(1)).as("n_orders"))
    val spine = ord.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi", expr("interval 1 day"))).as("day"))
      .crossJoin(ord.select($"prio").distinct())
    val locf = Window.partitionBy($"prio").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(daily, Seq("prio", "day"), "left")
      .select($"prio", date_format($"day", "yyyy-MM-dd").as("day"),
        coalesce($"n_orders", lit(0L)).as("n_orders"),
        last($"day_total", ignoreNulls = true).over(locf).as("locf_total"))
      .orderBy($"prio", $"day")
  }

  val q75GapFillSql: String =
    s"""WITH ord AS (SELECT o_orderpriority AS prio,
       |    CAST(o_orderdate AS DATE) AS day, o_totalprice FROM orders),
       |daily AS (SELECT prio, day, ${sqlMoneySum("o_totalprice")} AS day_total,
       |    count(*) AS n_orders FROM ord GROUP BY prio, day),
       |spine AS (SELECT p.prio, d.day
       |  FROM (SELECT DISTINCT prio FROM ord) p
       |  CROSS JOIN (SELECT unnest(generate_series(min(day), max(day),
       |    INTERVAL 1 DAY))::DATE AS day FROM ord) d)
       |SELECT s.prio, strftime(s.day, '%Y-%m-%d') AS day,
       |  coalesce(dl.n_orders, 0) AS n_orders,
       |  last_value(dl.day_total IGNORE NULLS) OVER (PARTITION BY s.prio
       |    ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS locf_total
       |FROM spine s LEFT JOIN daily dl ON s.prio = dl.prio AND s.day = dl.day
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q90: z-score outlier detection from exact moments
  // ---------------------------------------------------------------

  private val ZThresh = 3.0

  /** Per-type z-score outliers — the anomaly-flagging shape for metric
    * streams. Population mean/σ come from exact integer cent-grid
    * moments (one map-side-combinable aggregate; the q80 discipline:
    * sums are exact BIGINTs < 2^53, cast to double BEFORE the products
    * so both engines run identical IEEE ops — never the FP-order-
    * dependent built-in stddev). The per-group stats relation is
    * |event types| rows — broadcast back to the stream at ANY scale, so
    * flagging is one narrow pass, no second shuffle. Both engines
    * compute bit-identical z, making the >3σ cut deterministic. */
  def q90ZscoreOutliers(s: SparkSession, d: String): DataFrame = {
    val cents = floor($"value" * 100.0 + 0.5).cast("long")
    val ev = Tables.events(s, d)
      .select($"event_id", $"event_type", $"value", cents.as("cents"))
    val stats = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sx"),
        sum($"cents" * $"cents").as("sxx"))
      .select($"event_type",
        ($"sx".cast("double") / $"n" / 100.0).as("mean"),
        (sqrt(($"n".cast("double") * $"sxx" - $"sx".cast("double") * $"sx") /
          ($"n".cast("double") * $"n")) / 100.0).as("sd"))
    ev.join(broadcast(stats), "event_type")
      .filter($"sd" > 0.0 &&
        abs(($"cents" / 100.0 - $"mean") / $"sd") > ZThresh)
      .select($"event_id", $"event_type", $"value",
        stableRound(($"cents" / 100.0 - $"mean") / $"sd", 6).as("z"))
      .orderBy($"event_id")
  }

  val q90ZscoreOutliersSql: String =
    s"""WITH ev AS (SELECT event_id, event_type, value,
       |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents FROM events),
       |st AS (SELECT event_type, count(*) AS n,
       |    CAST(sum(cents) AS BIGINT) AS sx,
       |    CAST(sum(cents * cents) AS BIGINT) AS sxx
       |  FROM ev GROUP BY event_type),
       |ms AS (SELECT event_type,
       |    CAST(sx AS DOUBLE) / n / 100.0 AS mean,
       |    sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) /
       |         (CAST(n AS DOUBLE) * n)) / 100.0 AS sd
       |  FROM st)
       |SELECT e.event_id, e.event_type, e.value,
       |  ${sqlRound("(e.cents / 100.0 - m.mean) / m.sd", 6)} AS z
       |FROM ev e JOIN ms m USING (event_type)
       |WHERE m.sd > 0.0 AND abs((e.cents / 100.0 - m.mean) / m.sd) > $ZThresh
       |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------
  // q91: lag-1 autocorrelation of the daily series
  // ---------------------------------------------------------------

  /** Lag-1 autocorrelation of each type's daily event-count series —
    * the burstiness/trend signal behind traffic anomaly detection.
    * Daily counts are exact integers; consecutive OBSERVED days pair up
    * via one lag window (per-type partitions, unique day ordering);
    * Pearson r over the pairs comes from exact BIGINT moments with the
    * q80/q90 double-before-product discipline — no built-in corr(), no
    * FP-order dependence. Scale shape: the window and the aggregation
    * both run on the |types|×|days| daily relation (bounded by the
    * calendar, not the event count), after one map-side-combinable
    * count aggregation over the raw stream. */
  def q91Autocorr(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy($"event_type",
        floor(sec($"ts") / 86400L).cast("long").as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val pairs = daily
      .select($"event_type", $"x", lag($"x", 1).over(w).as("y"))
      .filter($"y".isNotNull)
    def dbl(c: Column): Column = c.cast("double")
    pairs.groupBy($"event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"x").as("sx"), sum($"y").as("sy"), sum($"x" * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"))
      .select($"event_type", $"n_pairs",
        stableRound((dbl($"n_pairs") * $"sxy" - dbl($"sx") * $"sy") /
          (sqrt(dbl($"n_pairs") * $"sxx" - dbl($"sx") * $"sx") *
           sqrt(dbl($"n_pairs") * $"syy" - dbl($"sy") * $"sy")), 6)
          .as("autocorr_lag1"))
      .orderBy($"event_type")
  }

  val q91AutocorrSql: String = {
    val dn = "CAST(n_pairs AS DOUBLE)"
    s"""WITH daily AS (SELECT event_type,
       |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
       |    CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |pr AS (SELECT event_type, x,
       |    lag(x) OVER (PARTITION BY event_type ORDER BY day) AS y
       |  FROM daily),
       |mom AS (SELECT event_type, count(*) AS n_pairs,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM pr WHERE y IS NOT NULL GROUP BY event_type)
       |SELECT event_type, n_pairs,
       |  ${sqlRound(
          s"($dn * sxy - CAST(sx AS DOUBLE) * sy) / " +
            s"(sqrt($dn * sxx - CAST(sx AS DOUBLE) * sx) * " +
            s"sqrt($dn * syy - CAST(sy AS DOUBLE) * sy))", 6)}
       |    AS autocorr_lag1
       |FROM mom ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------
  // q95: conversion-lag distribution (view → purchase time-to-event)
  // ---------------------------------------------------------------

  /** Distribution of the view→purchase conversion lag in whole days —
    * the time-to-event histogram behind funnel latency dashboards
    * (q81's counts say HOW MANY convert; this says HOW FAST). Exact
    * integer arithmetic on epoch seconds throughout. Shape: two
    * type-filtered user-grain aggregations (filters push to the scan),
    * one shuffle join on user_id, then a histogram aggregation bounded
    * by the lag domain (days, not users) — the result is
    * calendar-sized at any corpus scale. */
  def q95ConversionLag(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val firstView = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min(sec($"ts")).as("tv"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", sec($"ts").as("tp"))
    firstView.join(purchases, "user_id")
      .filter($"tp" >= $"tv")
      .groupBy($"user_id", $"tv").agg(min($"tp").as("tp"))
      // floor, not a bare long cast: Spark's double→long cast truncates
      // while DuckDB's rounds — floor() is identical in both
      .select(floor(($"tp" - $"tv") / 86400.0).cast("long").as("lag_days"))
      .groupBy($"lag_days").agg(count(lit(1)).as("n_users"))
      .orderBy($"lag_days")
  }

  val q95ConversionLagSql: String =
    """WITH fv AS (SELECT user_id, min(floor(epoch(ts))) AS tv
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |fp AS (SELECT e.user_id, f.tv, min(floor(epoch(e.ts))) AS tp
      |  FROM events e JOIN fv f USING (user_id)
      |  WHERE e.event_type = 'purchase' AND floor(epoch(e.ts)) >= f.tv
      |  GROUP BY e.user_id, f.tv)
      |SELECT CAST(floor((tp - tv) / 86400.0) AS BIGINT) AS lag_days,
      |  count(*) AS n_users
      |FROM fp GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q96: value-based RANGE window frames (rolling 7-day aggregates)
  // ---------------------------------------------------------------

  /** Rolling 7-day totals over each type's daily series using a
    * VALUE-based frame (`RANGE BETWEEN 6 PRECEDING AND CURRENT ROW` on
    * the day number) — the frame every ROWS-based window (q8's MAs)
    * cannot express when the series has gaps: missing days must shrink
    * the window, not slide it. Also carries `first_value`/`nth_value`
    * over the same ordering (frame-start day and second-highest count)
    * — completing the window-function surface beside q7's lead and
    * q84's ranks. All integer arithmetic; the window runs on the
    * calendar-bounded daily relation, never the raw stream. */
  def q96RangeFrame(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy($"event_type",
        floor(sec($"ts") / 86400L).cast("long").as("day"))
      .agg(count(lit(1)).as("x"))
    val range7 = Window.partitionBy($"event_type").orderBy($"day")
      .rangeBetween(-6, Window.currentRow)
    val byCount = Window.partitionBy($"event_type")
      .orderBy($"x".desc, $"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.select($"event_type", $"day", $"x",
        sum($"x").over(range7).as("roll7_sum"),
        count(lit(1)).over(range7).cast("long").as("roll7_days"),
        first($"day").over(range7).as("frame_start_day"),
        nth_value($"x", 2).over(byCount).as("second_best"))
      .orderBy($"event_type", $"day")
  }

  val q96RangeFrameSql: String =
    """WITH daily AS (SELECT event_type,
      |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day, x,
      |  CAST(sum(x) OVER w7 AS BIGINT) AS roll7_sum,
      |  CAST(count(*) OVER w7 AS BIGINT) AS roll7_days,
      |  first_value(day) OVER w7 AS frame_start_day,
      |  nth_value(x, 2) OVER wb AS second_best
      |FROM daily
      |WINDOW w7 AS (PARTITION BY event_type ORDER BY day
      |              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),
      |  wb AS (PARTITION BY event_type ORDER BY x DESC, day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, day""".stripMargin

  // ---------------------------------------------------------------
  // q100: user-journey transition matrix (event-type bigrams)
  // ---------------------------------------------------------------

  /** First-order Markov transition matrix over per-user event
    * sequences: lead() pairs each event with the user's next one
    * (ordering carries the `(ts, event_id)` unique tie-break — README
    * rule 3; concurrent same-second events would otherwise make the
    * pairing engine-dependent), then the (from, to) counts and exact
    * ppm row probabilities. One exchange on `user_id` for the window —
    * the partitioning every sessionized event pipeline already has —
    * then a map-side-combinable aggregate whose output is bounded by
    * |types|² regardless of corpus size; the row-total join runs on
    * that bounded relation, never the stream. Probabilities are
    * floor-gridded to integer ppm (rule 6) so ranking downstream is
    * cross-engine stable. */
  def q100Transitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"tsec", $"event_id")
    val tr = Tables.events(s, d)
      .select($"user_id", $"event_id", $"event_type", sec($"ts").as("tsec"))
      .select($"event_type".as("from_type"),
        lead($"event_type", 1).over(w).as("to_type"))
      .filter($"to_type".isNotNull)
      .groupBy($"from_type", $"to_type").agg(count(lit(1)).as("n"))
    val byFrom = Window.partitionBy($"from_type")
    tr.select($"from_type", $"to_type", $"n",
        sum($"n").over(byFrom).as("total_from"))
      .select($"from_type", $"to_type", $"n", $"total_from",
        floor($"n" * 1000000.0 / $"total_from").cast("long").as("prob_ppm"))
      .orderBy($"from_type", $"to_type")
  }

  val q100TransitionsSql: String =
    """WITH ord AS (SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY floor(epoch(ts)), event_id) AS to_type
      |  FROM events),
      |tr AS (SELECT from_type, to_type, count(*) AS n
      |  FROM ord WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS total_from,
      |  CAST(floor(n * 1000000.0 /
      |    sum(n) OVER (PARTITION BY from_type)) AS BIGINT) AS prob_ppm
      |FROM tr ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------
  // q101: log-line structured extraction (regex parse round-trip)
  // ---------------------------------------------------------------

  /** Regex structured extraction — the normalization step behind every
    * weblog/text-log source: render each event as an access-log-style
    * line (the q45/q87 derive-messy-from-clean trick, so ground truth
    * exists per row), then parse the line BACK into typed fields with
    * `regexp_extract` and prove the round-trip row by row. The pattern
    * keeps to the regex subset Java and RE2/DuckDB treat identically
    * (anchors, literal text, `\d` classes, greedy quantifiers on
    * disjoint delimiters). Entirely per-row codegen'd work — the only
    * shuffle is the final bounded per-type census; at 100 TB the parse
    * runs as a narrow map over the log scan, which is exactly how a
    * production ingest normalizer must behave. */
  def q101LogParse(s: SparkSession, d: String): DataFrame = {
    val line = concat(
      $"user_id".cast("string"), lit(" - ["),
      date_format($"ts", "yyyy-MM-dd"), lit("] \"GET /event/"),
      $"event_type", lit(" HTTP/1.1\" 200 "),
      floor($"value" * 100.0 + 0.5).cast("long").cast("string"))
    val pat = "^(\\d+) - \\[(\\d{4}-\\d{2}-\\d{2})\\] " +
      "\"GET /event/([a-z]+) HTTP/1\\.1\" (\\d+) (\\d+)$"
    Tables.events(s, d)
      .select($"user_id", $"event_type", $"ts", $"value",
        line.as("log_line"))
      .select($"user_id", $"event_type", $"ts", $"value",
        regexp_extract($"log_line", pat, 1).as("p_user"),
        regexp_extract($"log_line", pat, 2).as("p_date"),
        regexp_extract($"log_line", pat, 3).as("p_type"),
        regexp_extract($"log_line", pat, 5).as("p_cents"))
      .groupBy($"p_type")
      .agg(count(lit(1)).as("n_lines"),
        sum(when($"p_user" === $"user_id".cast("string") &&
          $"p_date" === date_format($"ts", "yyyy-MM-dd") &&
          $"p_type" === $"event_type", 1L).otherwise(0L)).as("n_roundtrip"),
        sum($"p_cents".cast("long")).as("sum_cents"),
        count_distinct($"p_date").as("n_days"))
      .select($"p_type", $"n_lines", $"n_roundtrip",
        ($"sum_cents" / 100.0).as("sum_value"), $"n_days")
      .orderBy($"p_type")
  }

  val q101LogParseSql: String =
    """WITH lines AS (SELECT user_id, event_type, ts, value,
      |    CAST(user_id AS VARCHAR) || ' - [' || strftime(ts, '%Y-%m-%d') ||
      |    '] "GET /event/' || event_type || ' HTTP/1.1" 200 ' ||
      |    CAST(CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS VARCHAR)
      |      AS log_line
      |  FROM events),
      |parsed AS (SELECT user_id, event_type, ts,
      |    regexp_extract(log_line,
      |      '^(\d+) - \[(\d{4}-\d{2}-\d{2})\] "GET /event/([a-z]+) HTTP/1\.1" (\d+) (\d+)$',
      |      1) AS p_user,
      |    regexp_extract(log_line,
      |      '^(\d+) - \[(\d{4}-\d{2}-\d{2})\] "GET /event/([a-z]+) HTTP/1\.1" (\d+) (\d+)$',
      |      2) AS p_date,
      |    regexp_extract(log_line,
      |      '^(\d+) - \[(\d{4}-\d{2}-\d{2})\] "GET /event/([a-z]+) HTTP/1\.1" (\d+) (\d+)$',
      |      3) AS p_type,
      |    regexp_extract(log_line,
      |      '^(\d+) - \[(\d{4}-\d{2}-\d{2})\] "GET /event/([a-z]+) HTTP/1\.1" (\d+) (\d+)$',
      |      5) AS p_cents
      |  FROM lines)
      |SELECT p_type, count(*) AS n_lines,
      |  CAST(sum(CASE WHEN p_user = CAST(user_id AS VARCHAR)
      |    AND p_date = strftime(ts, '%Y-%m-%d')
      |    AND p_type = event_type THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip,
      |  sum(CAST(p_cents AS BIGINT)) / 100.0 AS sum_value,
      |  CAST(count(DISTINCT p_date) AS BIGINT) AS n_days
      |FROM parsed GROUP BY p_type ORDER BY p_type""".stripMargin

  // ---------------------------------------------------------------
  // q107: co-occurrence pairs (market-basket affinity, user-day baskets)
  // ---------------------------------------------------------------

  /** Market-basket co-occurrence: which event types happen TOGETHER in
    * the same user-day basket, with exact ppm support. The scale
    * discipline is pair generation WITHIN bounded groups only: baskets
    * are (user, day) with ≤|types| distinct items each, so the
    * self-join emits ≤|types|²/2 pairs per basket — never a global
    * cross join. Both sides of the pair join arrive hash-partitioned by
    * the (user_id, day) basket key from the same distinct-aggregation,
    * and the output is bounded by |types|² regardless of corpus size.
    * Support joins against the basket count as a 1-row broadcast. */
  def q107BasketPairs(s: SparkSession, d: String): DataFrame = {
    val items = Tables.events(s, d)
      .select($"user_id",
        floor(sec($"ts") / 86400L).cast("long").as("day"), $"event_type")
      .distinct()
    val nb = items.select($"user_id", $"day").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val a = items.select($"user_id", $"day", $"event_type".as("ta"))
    val b = items.select($"user_id", $"day", $"event_type".as("tb"))
    a.join(b, Seq("user_id", "day")).filter($"ta" < $"tb")
      .groupBy($"ta", $"tb").agg(count(lit(1)).as("n_baskets_with_pair"))
      .crossJoin(broadcast(nb))
      .select($"ta", $"tb", $"n_baskets_with_pair", $"n_baskets",
        floor($"n_baskets_with_pair" * 1000000.0 / $"n_baskets")
          .cast("long").as("support_ppm"))
      .orderBy($"ta", $"tb")
  }

  val q107BasketPairsSql: String =
    """WITH items AS (SELECT DISTINCT user_id,
      |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day, event_type
      |  FROM events),
      |nb AS (SELECT count(*) AS n_baskets
      |  FROM (SELECT DISTINCT user_id, day FROM items) AS g),
      |pairs AS (SELECT a.event_type AS ta, b.event_type AS tb,
      |    count(*) AS n_baskets_with_pair
      |  FROM items a JOIN items b USING (user_id, day)
      |  WHERE a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT ta, tb, n_baskets_with_pair, n_baskets,
      |  CAST(floor(n_baskets_with_pair * 1000000.0 / n_baskets) AS BIGINT)
      |    AS support_ppm
      |FROM pairs, nb ORDER BY ta, tb""".stripMargin

  // ---------------------------------------------------------------
  // q108: nested arrays (ordered array_agg + higher-order functions)
  // ---------------------------------------------------------------

  /** The nested-type surface: per user-day, an ORDERED array of the
    * day's event types built the deterministic way — `collect_list`
    * alone has no ordering guarantee under parallel merge, so the
    * elements carry their (tsec, event_id) sort key into the array as
    * structs, `sort_array` orders lexicographically by that unique key,
    * and `transform` projects the payload back out (the Spark idiom for
    * SQL's `array_agg(... ORDER BY ...)`). Downstream: array cardinality,
    * `array_distinct`, `array_contains`, `slice` + `array_join` — the
    * higher-order-function family over a genuinely nested column. Group
    * state is bounded by a user-day's events (cap with `slice` before
    * persisting if a bot user-day could be pathological); one exchange
    * on the basket key. */
  def q108NestedArrays(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select($"user_id",
        floor(sec($"ts") / 86400L).cast("long").as("day"),
        struct(sec($"ts").as("tsec"), $"event_id", $"event_type").as("e"))
      .groupBy($"user_id", $"day")
      .agg(sort_array(collect_list($"e")).as("es"))
      .select($"user_id", $"day",
        transform($"es", e => e.getField("event_type")).as("types"))
      .select($"user_id", $"day",
        size($"types").cast("long").as("n_events"),
        size(array_distinct($"types")).cast("long").as("n_distinct_types"),
        array_contains($"types", "purchase").as("has_purchase"),
        array_join(slice($"types", 1, 3), ",").as("first3"))
      .orderBy($"user_id", $"day")

  val q108NestedArraysSql: String =
    """WITH baskets AS (SELECT user_id,
      |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
      |    list(event_type ORDER BY floor(epoch(ts)), event_id) AS types
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, day,
      |  CAST(len(types) AS BIGINT) AS n_events,
      |  CAST(len(list_distinct(types)) AS BIGINT) AS n_distinct_types,
      |  list_contains(types, 'purchase') AS has_purchase,
      |  array_to_string(types[1:3], ',') AS first3
      |FROM baskets ORDER BY user_id, day""".stripMargin

  // ---------------------------------------------------------------
  // q110: weighted PageRank by power iteration (integer ppb grid)
  // ---------------------------------------------------------------

  private val PrIters = 3

  /** Weighted PageRank over the event-type transition graph (q100's
    * edges), [[PrIters]] fixed power iterations at damping 0.85 — the
    * third iterative-computation shape in the engine beside q50's
    * label propagation and q65's Lloyd step. Every iteration is pure
    * relational algebra: ranks ⋈ edges on src (contribution =
    * ⌊rank·w/out_weight⌋), aggregate by dst, damp and re-teleport —
    * at web scale nodes/edges are corpus-sized relations and this
    * join-agg per iteration IS distributed PageRank (Pregel's
    * message-passing step expressed declaratively). Ranks live on an
    * integer parts-per-billion grid and every operation is either
    * exact integer arithmetic or an identically-ordered IEEE
    * divide+floor, so three unrolled iterations stay bit-identical in
    * both engines. The edge derivation repeats per iteration in this
    * single-plan form (driver contract); a production run stages
    * `edges` once — the dedup-pipeline pattern — and iterations touch
    * only |E|-sized relations. */
  /** The transition-edge relation, derived once and STAGED (the dedup
    * pipeline's materialize-once pattern): the power iteration below
    * references `edges` once per iteration, and without staging each
    * reference re-runs the corpus-sized window — 4 scans of the event
    * stream for a 3-iteration run. Staged, the window runs once and
    * every iteration reads the |E|-row parquet. */
  private def prEdges(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"tsec", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"event_id", $"event_type", sec($"ts").as("tsec"))
      .select($"event_type".as("src"),
        lead($"event_type", 1).over(w).as("dst"))
      .filter($"dst".isNotNull)
      .groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
  }

  def q110Pagerank(s: SparkSession, d: String): DataFrame = {
    val edgesDf = prEdges(s, d)
    val edges = Staged.orCompute(s, d, s"pr$PrIters",
      "pr_edges", Staged.planHash(edgesDf))(edgesDf)
    pagerank(edges, prNodes(edges), PrIters, None)
      .select($"node", $"r".as("rank_ppb")).orderBy($"rank_ppb".desc, $"node")
  }

  /** Every endpoint of a (src, dst, n) edge relation. */
  private def prNodes(edges: DataFrame): DataFrame =
    edges.select($"src".as("node"))
      .union(edges.select($"dst".as("node"))).distinct()

  /** PageRank's fixed power iteration on the integer ppb grid (q110,
    * q254, q281): `iters` rounds, each sending ⌊r·n/wout⌋ along every
    * (src, dst, n) edge, summing it by dst, and damping the sum by 0.85
    * onto every node of `nodes`, plus the restart mass — spread evenly
    * over the nodes (the 1-row node count is a broadcast), or, with a
    * `seed`, all on that node. Starts from 10⁹ ppb restarted the same
    * way; returns (node, r). */
  private[graft] def pagerank(edges: DataFrame, nodes: DataFrame,
      iters: Int, seed: Option[String]): DataFrame = {
    val outW = edges.groupBy($"src").agg(sum($"n").as("wout"))
    val nn = nodes.agg(count(lit(1)).as("c"))
    // `mass` ppb restarted over `df`'s nodes, and the frame it reads
    def restart(df: DataFrame, mass: Long): (DataFrame, Column) = seed match {
      case None => (df.crossJoin(broadcast(nn)),
        floor(lit(mass.toDouble) / $"c").cast("long"))
      case Some(node) =>
        (df, when($"node" === node, lit(mass)).otherwise(lit(0L)))
    }
    val (n0, t0) = restart(nodes, 1000000000L)
    (1 to iters).foldLeft(n0.select($"node", t0.as("r"))) { (rank, _) =>
      val contribs = rank.join(edges, rank("node") === edges("src"))
        .join(outW, "src")
        .select($"dst",
          floor(($"r" * $"n").cast("double") / $"wout").cast("long")
            .as("contrib"))
        .groupBy($"dst").agg(sum($"contrib").as("s"))
      val (next, t) = restart(
        nodes.join(contribs, nodes("node") === contribs("dst"), "left"),
        150000000L)
      next.select($"node",
        (t + floor(coalesce($"s", lit(0L)) * 85.0 / 100.0).cast("long"))
          .as("r"))
    }
  }

  val q110PagerankSql: String = {
    val iters = (1 to PrIters).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
         |    CAST(sum(CAST(floor(CAST(r.r * e.n AS DOUBLE) / o.wout)
         |                  AS BIGINT)) AS BIGINT) AS s
         |  FROM r${i - 1} r JOIN edges e ON r.node = e.src
         |  JOIN outw o ON e.src = o.src GROUP BY e.dst),
         |r$i AS (SELECT n.node,
         |    CAST(floor(150000000.0 / nn.c) AS BIGINT) +
         |    CAST(floor(coalesce(c.s, 0) * 85.0 / 100.0) AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN c$i c ON n.node = c.node, nn)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ord AS (SELECT event_type AS src,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY floor(epoch(ts)), event_id) AS dst
       |  FROM events),
       |edges AS (SELECT src, dst, count(*) AS n FROM ord
       |  WHERE dst IS NOT NULL GROUP BY 1, 2),
       |outw AS (SELECT src, CAST(sum(n) AS BIGINT) AS wout
       |  FROM edges GROUP BY 1),
       |nodes AS (SELECT src AS node FROM edges
       |  UNION SELECT dst FROM edges),
       |nn AS (SELECT count(*) AS c FROM nodes),
       |r0 AS (SELECT node, CAST(floor(1000000000.0 / c) AS BIGINT) AS r
       |  FROM nodes, nn),
       |$iters
       |SELECT node, r AS rank_ppb FROM r$PrIters
       |ORDER BY rank_ppb DESC, node""".stripMargin
  }

  // ---------------------------------------------------------------
  // q111: interval-overlap concurrency (two-phase sweep line)
  // ---------------------------------------------------------------

  /** Interval TTL: every event is live for this many seconds. */
  private val ConcTtl = 300L

  /** Peak concurrency per event type — "how many sessions were live at
    * once" — by the sweep-line algorithm: each interval emits a +1 at
    * its start and a −1 at its end, and concurrency at any boundary is
    * the running sum of deltas in time order.
    *
    * A single running sum per type is a sequential scan of the whole
    * type at 100 TB, so this runs the TWO-PHASE prefix sum: per-day
    * partial prefix sums in parallel (partition = (type, day)), plus a
    * carry-in per day from the bounded (type × day) daily-net relation
    * — the textbook distributed scan decomposition. Ties at the same
    * second order (−1 before +1), so touching intervals never count as
    * concurrent; (delta, event_id) completes the unique total order
    * (README rule 3). All integer arithmetic. The oracle is the
    * independent SINGLE-phase sweep, so the decomposition itself is
    * what the hash check proves. */
  def q111Concurrency(s: SparkSession, d: String): DataFrame = {
    val deltas = Tables.events(s, d)
      .select($"event_type", $"event_id", sec($"ts").as("t0"))
      .select($"event_type", $"event_id", explode(array(
        struct($"t0".as("t"), lit(1).as("delta")),
        struct(($"t0" + ConcTtl).as("t"), lit(-1).as("delta")))).as("dl"))
      .select($"event_type", $"event_id", $"dl.t", $"dl.delta",
        expr("dl.t div 86400").as("day"))
    val wDays = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = deltas.groupBy($"event_type", $"day")
      .agg(sum($"delta").as("net"))
      .select($"event_type", $"day",
        coalesce(sum($"net").over(wDays), lit(0L)).as("carry_in"))
    val wIn = Window.partitionBy($"event_type", $"day")
      .orderBy($"t", $"delta", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .join(broadcast(carry), Seq("event_type", "day"))
      .select($"event_type", $"delta",
        ($"carry_in" + sum($"delta").over(wIn)).as("conc"))
      .groupBy($"event_type")
      .agg(
        sum(when($"delta" === 1, 1L).otherwise(0L)).as("n_events"),
        max($"conc").as("max_concurrent"))
      .orderBy($"event_type")
  }

  val q111ConcurrencySql: String =
    s"""WITH dl AS (
       |  SELECT event_type, event_id, floor(epoch(ts)) AS t, 1 AS delta
       |  FROM events
       |  UNION ALL
       |  SELECT event_type, event_id, floor(epoch(ts)) + $ConcTtl, -1
       |  FROM events),
       |run AS (SELECT event_type, delta,
       |    sum(delta) OVER (PARTITION BY event_type
       |      ORDER BY t, delta, event_id
       |      ROWS UNBOUNDED PRECEDING) AS conc
       |  FROM dl)
       |SELECT event_type,
       |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_events,
       |  CAST(max(conc) AS BIGINT) AS max_concurrent
       |FROM run GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q112: cumulative distinct users per day (expanding distinct)
  // ---------------------------------------------------------------

  /** Users-to-date per day — the growth curve every product dashboard
    * needs, and the classic trap query: a naive expanding
    * COUNT(DISTINCT) rescans all history per day. The scale shape is
    * min-first-seen: one aggregation to each user's first day (map-side
    * combinable), a bounded per-day census, and a running sum over the
    * DAY AXIS only (≤ a few thousand rows at any corpus size — the
    * single-partition window is metadata-sized by construction).
    * Per-day active counts use the q19 two-level distinct rewrite. */
  def q112CumulativeUsers(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select($"user_id", date_format($"ts", "yyyy-MM-dd").as("day"))
    val newPerDay = ev.groupBy($"user_id").agg(min($"day").as("day"))
      .groupBy($"day").agg(count(lit(1)).as("n_new"))
    val activePerDay = ev.groupBy($"day", $"user_id").agg(count(lit(1)).as("nr"))
      .groupBy($"day").agg(count(lit(1)).as("n_active"))
    val wCum = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    activePerDay
      .join(newPerDay, Seq("day"), "left")
      .select($"day", $"n_active",
        coalesce($"n_new", lit(0L)).as("n_new"))
      .select($"day", $"n_active", $"n_new",
        sum($"n_new").over(wCum).as("users_to_date"),
        floor($"n_new" * 1000000.0 / $"n_active").cast("long")
          .as("new_frac_ppm"))
      .orderBy($"day")
  }

  val q112CumulativeUsersSql: String =
    """WITH ev AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day
      |  FROM events),
      |first AS (SELECT user_id, min(day) AS day FROM ev GROUP BY 1),
      |npd AS (SELECT day, count(*) AS n_new FROM first GROUP BY 1),
      |apd AS (SELECT day, count(DISTINCT user_id) AS n_active
      |  FROM ev GROUP BY 1)
      |SELECT a.day, CAST(a.n_active AS BIGINT) AS n_active,
      |  CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
      |  CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY a.day
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS users_to_date,
      |  CAST(floor(coalesce(n.n_new, 0) * 1000000.0 / a.n_active)
      |    AS BIGINT) AS new_frac_ppm
      |FROM apd a LEFT JOIN npd n USING (day)
      |ORDER BY a.day""".stripMargin

  // ---------------------------------------------------------------
  // q133: volume-spike detection (robust z over daily counts)
  // ---------------------------------------------------------------

  /** Traffic-anomaly detection: per type, flag days whose event count
    * exceeds median + 3·MAD of THAT TYPE's daily counts — the q116
    * robust machinery applied to the (type × day) relation, which is
    * calendar-bounded, so every step after the first aggregation runs
    * on metadata-sized data. Median/MAD use the exact-histogram order
    * statistic; a spiky day cannot inflate its own threshold (the
    * reason ops teams use MAD, not stddev, here). Emits a per-type
    * census — day count, median, MAD, max, spike count, last spike —
    * so a flat corpus reports zero spikes instead of an empty table. */
  def q133SpikeDays(s: SparkSession, d: String): DataFrame = {
    // one scan: median and MAD are window columns over the one daily
    // relation, so no subtree repeats in the plan for AQE to reuse (or
    // not); a null type is dropped, as the oracle's join drops it
    val daily = Tables.events(s, d).filter($"event_type".isNotNull)
      .select($"event_type", date_format($"ts", "yyyy-MM-dd").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy($"event_type")
    // the least value of `v` whose cumulative day count (a RANGE frame,
    // so tied days count together) reaches half the type's days
    def withMedian(df: DataFrame, v: String, out: String): DataFrame =
      df.withColumn("cum", count(lit(1)).over(byType.orderBy(col(v))))
        .withColumn("nn", count(lit(1)).over(byType))
        .withColumn(out, min(when($"cum" * 2 >= $"nn", col(v))).over(byType))
        .drop("cum", "nn")
    val devs = withMedian(daily, "n", "med_n").withColumn("dev", abs($"n" - $"med_n"))
    // per-type census (never empty — a flat corpus reports 0 spikes
    // rather than vanishing from the result)
    withMedian(devs, "dev", "mad_n")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_days"),
        max($"med_n").as("med_n"),
        max($"mad_n").as("mad_n"),
        max($"n").as("max_n"),
        sum(when($"n" > $"med_n" + lit(3L) * $"mad_n", 1L).otherwise(0L))
          .as("n_spike_days"),
        max(when($"n" > $"med_n" + lit(3L) * $"mad_n", $"day"))
          .as("last_spike_day"))
      .orderBy($"event_type")
  }

  val q133SpikeDaysSql: String =
    """WITH daily AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |h1 AS (SELECT event_type, n, count(*) AS c FROM daily GROUP BY 1, 2),
      |s1 AS (SELECT event_type, n, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY n) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS nn
      |  FROM h1),
      |med AS (SELECT event_type,
      |    min(CASE WHEN cum * 2 >= nn THEN n END) AS med_n
      |  FROM s1 GROUP BY event_type),
      |dv AS (SELECT d.event_type, d.day, d.n,
      |    abs(d.n - m.med_n) AS dev, m.med_n
      |  FROM daily d JOIN med m USING (event_type)),
      |h2 AS (SELECT event_type, dev, count(*) AS c FROM dv GROUP BY 1, 2),
      |s2 AS (SELECT event_type, dev, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS nn
      |  FROM h2),
      |mad AS (SELECT event_type,
      |    min(CASE WHEN cum * 2 >= nn THEN dev END) AS mad_n
      |  FROM s2 GROUP BY event_type)
      |SELECT v.event_type, count(*) AS n_days,
      |  CAST(max(v.med_n) AS BIGINT) AS med_n,
      |  CAST(max(a.mad_n) AS BIGINT) AS mad_n,
      |  CAST(max(v.n) AS BIGINT) AS max_n,
      |  CAST(sum(CASE WHEN v.n > v.med_n + 3 * a.mad_n THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_spike_days,
      |  max(CASE WHEN v.n > v.med_n + 3 * a.mad_n THEN v.day END)
      |    AS last_spike_day
      |FROM dv v JOIN mad a USING (event_type)
      |GROUP BY v.event_type ORDER BY v.event_type""".stripMargin

  // ---------------------------------------------------------------
  // q134: data-freshness / ingest-lag audit
  // ---------------------------------------------------------------

  private val FreshSlaSec = 43200L // 12 h

  /** Freshness audit — the SLA check every ingest pipeline pages on:
    * per event type, the newest event's age relative to the corpus
    * high-water mark, the row count in the last 24 h of data, and a
    * stale flag against a 12 h SLA. Two bounded aggregations (per-type
    * maxima; one global max broadcast back); whole-second integer
    * arithmetic end to end. */
  def q134Freshness(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select($"event_type", sec($"ts").as("tsec"))
    val hwm = ev.agg(max($"tsec").as("hwm"))
    ev.crossJoin(broadcast(hwm))
      .groupBy($"event_type")
      .agg(
        max($"tsec").as("latest"),
        max($"hwm").as("hwm"),
        sum(when($"tsec" >= $"hwm" - 86400L, 1L).otherwise(0L))
          .as("n_last_24h"))
      .select($"event_type",
        ($"hwm" - $"latest").as("lag_s"),
        $"n_last_24h",
        ($"hwm" - $"latest" > FreshSlaSec).as("stale"))
      .orderBy($"event_type")
  }

  val q134FreshnessSql: String =
    s"""WITH ev AS (SELECT event_type,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
       |h AS (SELECT max(tsec) AS hwm FROM ev)
       |SELECT event_type,
       |  max(h.hwm) - max(tsec) AS lag_s,
       |  CAST(sum(CASE WHEN tsec >= h.hwm - 86400 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_last_24h,
       |  (max(h.hwm) - max(tsec) > $FreshSlaSec) AS stale
       |FROM ev CROSS JOIN h GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q135: day-over-day rank movers
  // ---------------------------------------------------------------

  /** "Top movers" — the day-over-day rank-change panel: per day, types
    * rank by event count (dense integer ranks, ties broken by type —
    * fully deterministic); each (type, day) joins its previous DAY'S
    * rank (not previous row — missing days surface as NULL movement,
    * never a silent carry-over) and reports the signed rank change.
    * Every relation after the first aggregation is calendar-bounded. */
  def q135RankMovers(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select($"event_type", date_format($"ts", "yyyy-MM-dd").as("day"))
      .groupBy($"day", $"event_type").agg(count(lit(1)).as("n"))
    val byDay = Window.partitionBy($"day")
      .orderBy($"n".desc, $"event_type")
    val ranked = daily.select($"day", $"event_type", $"n",
      row_number().over(byDay).cast("long").as("rnk"))
    val prev = ranked.select(
      date_format(date_add(to_date($"day"), 1), "yyyy-MM-dd").as("day"),
      $"event_type", $"rnk".as("prev_rnk"))
    ranked.join(prev, Seq("day", "event_type"), "left")
      .select($"day", $"event_type", $"n", $"rnk",
        ($"prev_rnk" - $"rnk").as("rank_change"))
      .orderBy($"day", $"event_type")
  }

  val q135RankMoversSql: String =
    """WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |rk AS (SELECT day, event_type, n,
      |    CAST(row_number() OVER (PARTITION BY day
      |      ORDER BY n DESC, event_type) AS BIGINT) AS rnk
      |  FROM daily),
      |pv AS (SELECT strftime(CAST(day AS DATE) + INTERVAL 1 DAY,
      |      '%Y-%m-%d') AS day,
      |    event_type, rnk AS prev_rnk FROM rk)
      |SELECT r.day, r.event_type, CAST(r.n AS BIGINT) AS n, r.rnk,
      |  p.prev_rnk - r.rnk AS rank_change
      |FROM rk r LEFT JOIN pv p USING (day, event_type)
      |ORDER BY r.day, r.event_type""".stripMargin

  // ---------------------------------------------------------------
  // q130: journey pattern matching (MATCH_RECOGNIZE by regex)
  // ---------------------------------------------------------------

  /** Sequential pattern matching over user journeys — the
    * MATCH_RECOGNIZE workload (SQL:2016 row-pattern recognition, which
    * neither engine ships) expressed portably: each user's events
    * collapse to an ORDERED initial string (q108's sort_array
    * discipline over the unique (tsec, event_id) key; the five event
    * types have distinct initials), and patterns become regexes over
    * that string, evaluated once per user. The per-user journey string
    * is bounded by the user's own history, the census by the pattern
    * count; regexes stay in the Java∩RE2-identical subset (literals,
    * classes, `*`). Patterns: direct conversion (view…purchase with no
    * error between), error recovery (error then a later purchase), and
    * abandoned (view, never purchase after). */
  def q130JourneyPatterns(s: SparkSession, d: String): DataFrame = {
    val journeys = Tables.events(s, d)
      .select($"user_id", sec($"ts").as("tsec"), $"event_id",
        substring($"event_type", 1, 1).as("ini"))
      .groupBy($"user_id")
      .agg(array_join(transform(
        sort_array(collect_list(struct($"tsec", $"event_id", $"ini"))),
        x => x.getField("ini")), "").as("j"))
    journeys.select(
        $"j".rlike("v[^ep]*p").as("clean_convert"),
        $"j".rlike("e[^p]*p").as("error_recovery"),
        $"j".rlike("v[^p]*$").as("abandoned"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(when($"clean_convert", 1L).otherwise(0L)).as("n_clean_convert"),
        sum(when($"error_recovery", 1L).otherwise(0L)).as("n_error_recovery"),
        sum(when($"abandoned", 1L).otherwise(0L)).as("n_abandoned"))
  }

  val q130JourneyPatternsSql: String =
    """WITH j AS (SELECT user_id,
      |    array_to_string(list(substring(event_type, 1, 1)
      |      ORDER BY floor(epoch(ts)), event_id), '') AS j
      |  FROM events GROUP BY user_id)
      |SELECT count(*) AS n_users,
      |  CAST(sum(CASE WHEN regexp_matches(j, 'v[^ep]*p') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_clean_convert,
      |  CAST(sum(CASE WHEN regexp_matches(j, 'e[^p]*p') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_error_recovery,
      |  CAST(sum(CASE WHEN regexp_matches(j, 'v[^p]*$') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_abandoned
      |FROM j""".stripMargin

  // ---------------------------------------------------------------
  // q127: day-of-week seasonality profile
  // ---------------------------------------------------------------

  /** Weekly seasonality — the per-type day-of-week activity profile
    * behind every traffic dashboard and anomaly baseline: event counts
    * and exact cent-grid value means per (type, dow), plus each cell's
    * deviation from its type's flat-week expectation in integer ppm.
    * Day-of-week from integer epoch-day arithmetic ((day+4) mod 7 — the
    * epoch was a Thursday), NOT engine dayname() calendars. One
    * map-side-combinable aggregation; the deviation join is against a
    * 1-row-per-type broadcast. */
  def q127Seasonality(s: SparkSession, d: String): DataFrame = {
    val cell = Tables.events(s, d)
      .select($"event_type",
        expr("(floor(cast(ts as long) / 86400) + 4) % 7").cast("long")
          .as("dow"),
        floor($"value" * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy($"event_type", $"dow")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sc"))
    val byType = cell.groupBy($"event_type")
      .agg(sum($"n").as("n_type"), count(lit(1)).as("n_days"))
    cell.join(broadcast(byType), "event_type")
      .select($"event_type", $"dow", $"n",
        (floor($"sc" / $"n" + 0.5) / 100.0).as("avg_value"),
        // deviation of this dow's share from a flat week, in ppm:
        // n/n_type vs 1/n_days, on integers
        (floor($"n" * 1000000.0 * $"n_days" / $"n_type") - 1000000L)
          .cast("long").as("dev_ppm"))
      .orderBy($"event_type", $"dow")
  }

  val q127SeasonalitySql: String =
    """WITH cell AS (SELECT event_type,
      |    CAST((floor(floor(epoch(ts)) / 86400) + 4) % 7 AS BIGINT) AS dow,
      |    count(*) AS n,
      |    sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS sc
      |  FROM events GROUP BY 1, 2),
      |bt AS (SELECT event_type, sum(n) AS n_type, count(*) AS n_days
      |  FROM cell GROUP BY 1)
      |SELECT c.event_type, c.dow, CAST(c.n AS BIGINT) AS n,
      |  floor(c.sc / c.n + 0.5) / 100.0 AS avg_value,
      |  CAST(floor(c.n * 1000000.0 * b.n_days / b.n_type) - 1000000
      |    AS BIGINT) AS dev_ppm
      |FROM cell c JOIN bt b USING (event_type)
      |ORDER BY c.event_type, c.dow""".stripMargin

  // ---------------------------------------------------------------
  // q120: leave-last-out temporal split (recsys evaluation holdout)
  // ---------------------------------------------------------------

  /** Leave-last-out split — the recommendation-training holdout: every
    * user's LAST event (by time) is the test set, everything before it
    * is train. Unlike q88's hash split this one is temporal and
    * per-user, the shape that actually prevents future-leakage in
    * sequence-model training. One window over the (user_id) exchange
    * with the unique (tsec, event_id) tie-break, then a bounded
    * split × type census with exact money sums. Single-event users
    * contribute only a test row — asserted, not assumed, by the spec. */
  def q120LeaveLastOut(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy($"user_id")
      .orderBy($"tsec".desc, $"event_id".desc)
    Tables.events(s, d)
      .select($"user_id", $"event_id", $"event_type", $"value",
        sec($"ts").as("tsec"))
      .select($"event_type", $"value",
        when(row_number().over(w) === 1, lit("test")).otherwise(lit("train"))
          .as("split"))
      .groupBy($"split", $"event_type")
      .agg(count(lit(1)).as("n_events"),
        moneySum($"value").as("sum_value"))
      .orderBy($"split", $"event_type")
  }

  val q120LeaveLastOutSql: String =
    s"""WITH r AS (SELECT event_type, value,
       |    CASE WHEN row_number() OVER (PARTITION BY user_id
       |        ORDER BY floor(epoch(ts)) DESC, event_id DESC) = 1
       |      THEN 'test' ELSE 'train' END AS split
       |  FROM events)
       |SELECT split, event_type, count(*) AS n_events,
       |  ${sqlMoneySum("value")} AS sum_value
       |FROM r GROUP BY split, event_type
       |ORDER BY split, event_type""".stripMargin

  // ---------------------------------------------------------------
  // q117: A/B experiment lift (two-proportion z from exact counts)
  // ---------------------------------------------------------------

  /** Deterministic A/B experiment readout: users split into variants by
    * an md5 hash of the user key (the q55/q88 assignment discipline —
    * membership is a pure function of the key, so any executor, any
    * partitioning, any rerun lands every user in the same arm),
    * conversion = "user has ≥1 purchase", and the two-proportion
    * z-statistic computed from the four EXACT integer counts. The only
    * floating arithmetic is the final formula — division and sqrt are
    * IEEE-correctly-rounded (README rule: sqrt is in the exact set), in
    * the identical operation order in both engines. Scale shape: one
    * user-grain aggregation, then a 2-row census; nothing bigger than
    * |users| ever shuffles. */
  def q117AbLift(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy($"user_id")
      // "converted" = made a HIGH-VALUE purchase: with the driver data
      // every user purchases something, so the bare-purchase definition
      // is degenerate (pooled rate 1 ⇒ zero z denominator)
      .agg(max(when($"event_type" === "purchase" && $"value" > 90.0, 1L)
        .otherwise(0L)).as("converted"))
      .select(
        when(conv(substring(md5(concat(lit("ab"),
          $"user_id".cast("string"))), 1, 8), 16, 10).cast("long") % 2 === 0,
          lit("A")).otherwise(lit("B")).as("variant"),
        $"converted")
    val arms = users.groupBy($"variant")
      .agg(count(lit(1)).as("n"), sum($"converted").as("conv"))
    val wide = arms.groupBy()
      .agg(
        max(when($"variant" === "A", $"n")).as("n_a"),
        max(when($"variant" === "A", $"conv")).as("conv_a"),
        max(when($"variant" === "B", $"n")).as("n_b"),
        max(when($"variant" === "B", $"conv")).as("conv_b"))
    val pa = $"conv_a" / $"n_a"
    val pb = $"conv_b" / $"n_b"
    val pp = ($"conv_a" + $"conv_b") / ($"n_a" + $"n_b")
    val den =
      sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / $"n_a" + lit(1.0) / $"n_b"))
    wide.select(
      $"n_a", $"conv_a", $"n_b", $"conv_b",
      stableRound(pa, 6).as("rate_a"),
      stableRound(pb, 6).as("rate_b"),
      // degenerate experiment (pooled rate 0 or 1) → z defined as 0
      when(den === 0.0, lit(0.0))
        .otherwise(stableRound((pa - pb) / den, 6)).as("z_stat"))
  }

  private val abDenSql: String =
    "sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) * " +
      "(1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) * " +
      "(1.0 / n_a + 1.0 / n_b))"

  val q117AbLiftSql: String =
    s"""WITH u AS (SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' AND value > 90.0
       |        THEN 1 ELSE 0 END) AS converted
       |  FROM events GROUP BY user_id),
       |v AS (SELECT CASE WHEN CAST('0x' || substring(
       |      md5('ab' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0
       |    THEN 'A' ELSE 'B' END AS variant, converted FROM u),
       |arms AS (SELECT variant, count(*) AS n, sum(converted) AS conv
       |  FROM v GROUP BY variant),
       |w AS (SELECT
       |    max(CASE WHEN variant = 'A' THEN n END) AS n_a,
       |    max(CASE WHEN variant = 'A' THEN conv END) AS conv_a,
       |    max(CASE WHEN variant = 'B' THEN n END) AS n_b,
       |    max(CASE WHEN variant = 'B' THEN conv END) AS conv_b
       |  FROM arms)
       |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
       |  CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
       |  ${sqlRound("CAST(conv_a AS DOUBLE) / n_a", 6)} AS rate_a,
       |  ${sqlRound("CAST(conv_b AS DOUBLE) / n_b", 6)} AS rate_b,
       |  CASE WHEN $abDenSql = 0.0 THEN 0.0
       |    ELSE ${sqlRound(
               "(CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)" +
               s" / $abDenSql", 6)} END AS z_stat
       |FROM w""".stripMargin

  // ---------------------------------------------------------------
  // q114: malformed-record routing (dead-letter JSON ingest)
  // ---------------------------------------------------------------

  /** Fraction of rendered lines corrupted: md5-uniform 1-in-20. */
  private def dlCorrupt(id: Column): Column =
    conv(substring(md5(concat(lit("dl"), id.cast("string"))), 1, 8), 16, 10)
      .cast("long") % 20 === 0

  /** Dead-letter routing — the ingest contract for untrusted feeds:
    * parse what parses, quarantine what doesn't, lose NOTHING silently.
    * Lines are rendered from events (q101's derive-messy-from-clean, so
    * per-row ground truth exists) with a deterministic md5-chosen 5%
    * corrupted (truncated mid-token → invalid JSON). `from_json` in
    * PERMISSIVE mode yields a null struct for those; rows route to
    * `dead` with the original line retained (the quarantine table), the
    * rest round-trip-verify field by field. Entirely narrow per-row
    * work + one bounded census — at 100 TB the parse rides the scan.
    * The oracle re-renders identically but routes via DuckDB's OWN
    * `json_valid`/`json_extract` — two independent JSON parsers must
    * agree on every line. */
  def q114DeadLetter(s: SparkSession, d: String): DataFrame = {
    val cents = floor($"value" * 100.0 + 0.5).cast("long")
    val goodLine = concat(
      lit("{\"id\":"), $"event_id".cast("string"),
      lit(",\"type\":\""), $"event_type",
      lit("\",\"cents\":"), cents.cast("string"), lit("}"))
    val line = when(dlCorrupt($"event_id"),
      goodLine.substr(lit(1), length(goodLine) - 3)).otherwise(goodLine)
    val parsed = from_json($"line",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("cents",
          org.apache.spark.sql.types.LongType))))
    Tables.events(s, d)
      .select($"event_id", $"event_type", cents.as("cents0"), line.as("line"))
      .withColumn("p", parsed)
      // Route on the LAST field: Spark's PERMISSIVE from_json may keep a
      // partial prefix of a truncated record (id/type can survive), but
      // the corruption always damages the tail, so `cents IS NULL` ⇔
      // "line does not parse as a whole" — the exact predicate DuckDB's
      // json_valid evaluates.
      .select($"event_type",
        when($"p.cents".isNull, lit("dead")).otherwise(lit("ok")).as("route"),
        $"p.id", $"p.type", $"p.cents", $"cents0")
      .groupBy($"route", $"event_type")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(coalesce($"cents", lit(0L))).as("cents_recovered"),
        sum(when($"id".isNotNull && $"type" === $"event_type" &&
          $"cents" === $"cents0", 1L).otherwise(0L)).as("n_roundtrip"))
      .orderBy($"route", $"event_type")
  }

  val q114DeadLetterSql: String =
    """WITH r AS (SELECT event_type,
      |    '{"id":' || CAST(event_id AS VARCHAR) || ',"type":"' ||
      |      event_type || '","cents":' ||
      |      CAST(CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS VARCHAR) ||
      |      '}' AS good,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents0,
      |    (CAST('0x' || substring(md5('dl' || CAST(event_id AS VARCHAR)),
      |       1, 8) AS BIGINT) % 20 = 0) AS corrupt
      |  FROM events),
      |l AS (SELECT event_type, cents0,
      |    CASE WHEN corrupt THEN substring(good, 1, length(good) - 3)
      |         ELSE good END AS line
      |  FROM r),
      |p AS (SELECT event_type, cents0, line,
      |    CASE WHEN json_valid(line) THEN 'ok' ELSE 'dead' END AS route,
      |    CASE WHEN json_valid(line)
      |         THEN CAST(json_extract_string(line, '$.id') AS BIGINT) END AS id,
      |    CASE WHEN json_valid(line)
      |         THEN json_extract_string(line, '$.type') END AS typ,
      |    CASE WHEN json_valid(line)
      |         THEN CAST(json_extract_string(line, '$.cents') AS BIGINT)
      |         END AS cents
      |  FROM l)
      |SELECT route, event_type, count(*) AS n_lines,
      |  CAST(sum(coalesce(cents, 0)) AS BIGINT) AS cents_recovered,
      |  CAST(sum(CASE WHEN id IS NOT NULL AND typ = event_type
      |    AND cents = cents0 THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip
      |FROM p GROUP BY route, event_type
      |ORDER BY route, event_type""".stripMargin

  // ---------------------------------------------------------------
  // q156: maximum drawdown (running-peak risk census per series)
  // ---------------------------------------------------------------

  /** Maximum drawdown — THE risk number a commodity-trading mart
    * reports beside every price series (how far below its running peak
    * the series fell, and how long it spent underwater): per series
    * key (supplier plays the contract), the exact-cent price stream in
    * its unique physical order carries a running `max` window, drawdown
    * is peak − price, and the census reports the all-time peak, the
    * worst drawdown (absolute and ppm of the peak), and the underwater
    * day count. Everything is integer-exact until the two final
    * divisions (rule 5/7); the running max is a per-KEY window — at any
    * scale each series is one partition's sequential scan, exactly how
    * a 1000-executor cluster spreads 10^6 series. */
  def q156MaxDrawdown(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_partkey")
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.lineitem(s, d)
      .select($"l_suppkey",
        $"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_partkey",
        floor($"l_extendedprice" * 100.0 + 0.5).cast("long").as("cents"))
      .select($"l_suppkey", $"cents",
        max($"cents").over(w).as("peak"))
      .select($"l_suppkey", $"cents", $"peak",
        ($"peak" - $"cents").as("dd"))
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_points"),
        max($"peak").as("peak_cents"),
        max($"dd").as("dd_cents"),
        sum(when($"dd" > 0, 1L).otherwise(0L)).as("n_underwater"))
      .select($"l_suppkey", $"n_points",
        ($"peak_cents" / 100.0).as("max_price"),
        ($"dd_cents" / 100.0).as("max_drawdown"),
        floor($"dd_cents" * 1000000.0 / $"peak_cents").cast("long")
          .as("dd_ppm"),
        $"n_underwater")
      .orderBy($"l_suppkey")
  }

  /** Return volatility — the other half of the q156 risk pair: per
    * series key, the standard deviation of successive price CHANGES
    * (cent grid), from exact integer sums only — n, Σd and Σd² are
    * map-side-combinable longs, and the variance assembles as
    * (n·Σd² − (Σd)²)/n² with the big products taken in double AFTER
    * the exact sums (rule 7 — n·Σd² overflows BIGINT at ~10¹⁰ rows
    * per key while the double form stays exact in rank). sqrt is
    * IEEE-correctly-rounded, so the result crosses engines bit-for-bit
    * (unlike ln — no grid needed). One per-key lag window + one
    * aggregate. */
  def q157Volatility(s: SparkSession, d: String): DataFrame =
    volatilityOf(Tables.lineitem(s, d)
      .select($"l_suppkey",
        $"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_partkey",
        floor($"l_extendedprice" * 100.0 + 0.5).cast("long").as("cents")))

  /** Core of [[q157Volatility]] over an arbitrary
    * (l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_partkey, cents)
    * frame — split out so EngineSpec can drive the degenerate cases
    * (constant series, giant diffs whose n·Σd² exceeds 2^53) directly. */
  def volatilityOf(px: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_partkey")
    px
      .select($"l_suppkey",
        ($"cents" - lag($"cents", 1).over(w)).as("diff"))
      .filter($"diff".isNotNull)
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_moves"),
        sum($"diff").as("sd"),
        sum($"diff" * $"diff").as("sd2"))
      .select($"l_suppkey", $"n_moves",
        // the variance assembles from independently-rounded doubles:
        // once n·Σd² exceeds 2^53 a near-zero-variance series can round
        // to a tiny NEGATIVE — Spark's sqrt would return NaN while
        // DuckDB's sqrt ERRORS, crashing the oracle and diverging the
        // engines at some scale factor. Clamp to 0 on BOTH sides (the
        // SQL mirror uses greatest(...,0) identically).
        Relational.stableRound(
          sqrt(greatest(
            ($"n_moves".cast("double") * $"sd2".cast("double") -
              $"sd".cast("double") * $"sd".cast("double")) /
              ($"n_moves".cast("double") * $"n_moves".cast("double")),
            lit(0.0))) / 100.0,
          4).as("vol"),
        ($"sd" / 100.0).as("net_move"))
      .orderBy($"l_suppkey")
  }

  val q157VolatilitySql: String = {
    val varExpr = "(CAST(n_moves AS DOUBLE) * CAST(sd2 AS DOUBLE) - " +
      "CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)) / " +
      "(CAST(n_moves AS DOUBLE) * CAST(n_moves AS DOUBLE))"
    s"""WITH px AS (SELECT l_suppkey,
       |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
       |    lag(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
       |      OVER (PARTITION BY l_suppkey
       |            ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey)
       |      AS prev
       |  FROM lineitem),
       |df AS (SELECT l_suppkey, cents - prev AS diff FROM px
       |  WHERE prev IS NOT NULL),
       |agg AS (SELECT l_suppkey, count(*) AS n_moves,
       |    CAST(sum(diff) AS BIGINT) AS sd,
       |    CAST(sum(diff * diff) AS BIGINT) AS sd2
       |  FROM df GROUP BY l_suppkey)
       |SELECT l_suppkey, n_moves,
       |  ${Relational.sqlRound(s"sqrt(greatest($varExpr, 0)) / 100.0", 4)} AS vol,
       |  sd / 100.0 AS net_move
       |FROM agg ORDER BY l_suppkey""".stripMargin
  }

  val q156MaxDrawdownSql: String =
    """WITH px AS (SELECT l_suppkey,
      |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
      |    max(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
      |      OVER (PARTITION BY l_suppkey
      |            ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM lineitem),
      |dd AS (SELECT l_suppkey, cents, peak, peak - cents AS dd FROM px)
      |SELECT l_suppkey, count(*) AS n_points,
      |  CAST(max(peak) AS BIGINT) / 100.0 AS max_price,
      |  CAST(max(dd) AS BIGINT) / 100.0 AS max_drawdown,
      |  CAST(floor(CAST(max(dd) AS BIGINT) * 1000000.0 /
      |    CAST(max(peak) AS BIGINT)) AS BIGINT) AS dd_ppm,
      |  CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_underwater
      |FROM dd GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  // ---------------------------------------------------------------
  // q186: OHLC bar resample (tick stream → hourly bars)
  // ---------------------------------------------------------------

  /** Tick-to-bar resampling — the operator that PRODUCES the OHLCV
    * rows the reference's whole warehouse ingests (`KC=F.csv` is
    * hourly/daily bars; reference `ETL Process/STG.py` loads them
    * ready-made): per (instrument, hour) the first/max/min/last tick
    * values, tick count, and exact-cent volume. Open/close are PICKS
    * of existing doubles (no arithmetic — bit-identical cross-engine)
    * selected by the (whole-second epoch, event_id) order — the
    * q120 temporal-key grain, NOT raw ts: the physical ts has shipped
    * as both ns- and µs-precision parquet (README rule 4), and a
    * sub-second rank would diverge cross-engine the moment a ns
    * generation puts two ticks in one Spark-truncated microsecond.
    * Within a second the event_id IS the tick sequence number. Volume
    * is the moneySum cent grid (rule 2).
    *
    * Scale shape: both row_number ranks ride ONE (event_type, bar)
    * hash exchange (same partition keys, two sort orders); the bar
    * aggregate after is map-side combinable. Bars scale with time ×
    * instruments, never with tick density — the output is the
    * compacted relation a 100 TB tick archive actually stores. */
  def q186OhlcBars(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select($"event_type", $"ts", $"event_id", $"value",
        date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:00").as("bar"))
    val asc = Window.partitionBy($"event_type", $"bar")
      .orderBy(sec($"ts"), $"event_id")
    val dsc = Window.partitionBy($"event_type", $"bar")
      .orderBy(sec($"ts").desc, $"event_id".desc)
    ev.withColumn("rna", row_number().over(asc))
      .withColumn("rnd", row_number().over(dsc))
      .groupBy($"event_type", $"bar")
      .agg(
        max(when($"rna" === 1, $"value")).as("open"),
        max($"value").as("high"),
        min($"value").as("low"),
        max(when($"rnd" === 1, $"value")).as("close"),
        count(lit(1)).as("n_ticks"),
        moneySum($"value").as("volume"))
      .orderBy($"event_type", $"bar")
  }

  val q186OhlcBarsSql: String =
    s"""WITH ev AS (SELECT event_type, ts, event_id, value,
       |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS bar
       |  FROM events),
       |r AS (SELECT *,
       |    row_number() OVER (PARTITION BY event_type, bar
       |      ORDER BY floor(epoch(ts)), event_id) AS rna,
       |    row_number() OVER (PARTITION BY event_type, bar
       |      ORDER BY floor(epoch(ts)) DESC, event_id DESC) AS rnd
       |  FROM ev)
       |SELECT event_type, bar,
       |  max(CASE WHEN rna = 1 THEN value END) AS open,
       |  max(value) AS high, min(value) AS low,
       |  max(CASE WHEN rnd = 1 THEN value END) AS close,
       |  count(*) AS n_ticks,
       |  ${sqlMoneySum("value")} AS volume
       |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin


  // ---------------------------------------------------------------
  // q202: per-series OLS trend (slope / intercept / R²)
  // ---------------------------------------------------------------

  /** Ordinary-least-squares trend of each type's daily event-count
    * series — the "is traffic growing and how fast" signal behind
    * capacity planning, and the parametric companion of q91's
    * autocorrelation (same daily relation, same exact-moment
    * discipline). The day index is re-based to each type's first
    * observed day (t = day − min day), which conditions the normal
    * equations without changing the slope; slope / intercept / R² all
    * derive from six exact BIGINT moments with the q80/q90
    * double-before-product rule (the sums stay exact under 2^53 while
    * their products would overflow BIGINT at corpus scale), and the
    * intercept reuses the GRIDDED slope so both engines feed identical
    * doubles into identical IEEE ops. Degenerate series (one day, or a
    * constant-count series for R²) report NULL via the same gridded
    * guard in both engines rather than dividing by zero. Scale shape:
    * one map-side-combinable count aggregation over the raw stream;
    * the rebase window and the moment aggregation run on the
    * calendar-bounded |types|×|days| daily relation. */
  def q202OlsTrend(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy($"event_type",
        floor(sec($"ts") / 86400L).cast("long").as("day"))
      .agg(count(lit(1)).as("x"))
    val byType = Window.partitionBy($"event_type")
    val pts = daily.select($"event_type",
      ($"day" - min($"day").over(byType)).as("t"), $"x")
    def dbl(c: Column): Column = c.cast("double")
    val mom = pts.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        sum($"t").as("st"), sum($"x").as("sx"),
        sum($"t" * $"x").as("stx"),
        sum($"t" * $"t").as("stt"),
        sum($"x" * $"x").as("sxx"))
    val covTX = dbl($"n_days") * $"stx" - dbl($"st") * $"sx"
    val varT  = dbl($"n_days") * $"stt" - dbl($"st") * $"st"
    val varX  = dbl($"n_days") * $"sxx" - dbl($"sx") * $"sx"
    mom
      .select($"event_type", $"n_days", $"st", $"sx",
        when(varT > 0.0, stableRound(covTX / varT, 6)).as("slope"),
        when(varT > 0.0 && varX > 0.0,
          stableRound((covTX * covTX) / (varT * varX), 6)).as("r2"))
      .select($"event_type", $"n_days", $"slope",
        when($"slope".isNotNull,
          stableRound(($"sx" - $"slope" * $"st") / $"n_days", 6))
          .as("intercept"),
        $"r2")
      .orderBy($"event_type")
  }

  val q202OlsTrendSql: String = {
    val cov  = "(CAST(n_days AS DOUBLE) * stx - CAST(st AS DOUBLE) * sx)"
    val varT = "(CAST(n_days AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)"
    val varX = "(CAST(n_days AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    s"""WITH daily AS (SELECT event_type,
       |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
       |    CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |pts AS (SELECT event_type,
       |    day - min(day) OVER (PARTITION BY event_type) AS t, x
       |  FROM daily),
       |mom AS (SELECT event_type, count(*) AS n_days,
       |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(t * x) AS BIGINT) AS stx,
       |    CAST(sum(t * t) AS BIGINT) AS stt,
       |    CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM pts GROUP BY event_type),
       |sl AS (SELECT event_type, n_days, st, sx,
       |    CASE WHEN $varT > 0.0
       |         THEN ${sqlRound(s"$cov / $varT", 6)} END AS slope,
       |    CASE WHEN $varT > 0.0 AND $varX > 0.0
       |         THEN ${sqlRound(s"($cov * $cov) / ($varT * $varX)", 6)}
       |         END AS r2
       |  FROM mom)
       |SELECT event_type, n_days, slope,
       |  CASE WHEN slope IS NOT NULL
       |       THEN ${sqlRound("(sx - slope * st) / n_days", 6)}
       |       END AS intercept,
       |  r2
       |FROM sl ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------
  // q203: CUSUM change-point on the daily series
  // ---------------------------------------------------------------

  /** CUSUM change-point detection over each type's daily event-count
    * series (Page 1954): the cumulative sum of deviations from the
    * series mean peaks exactly where a level shift happens. The whole
    * statistic stays in exact integers by working with the n-SCALED
    * cusum C_i = n·(Σ_{j≤i} x_j) − i·(Σ x_j) (= n × the classic
    * mean-centered cusum — no mean division ever happens before the
    * final report); the change point is the earliest day attaining
    * max |C_i| (a max then a min-day — two bounded aggregates, never
    * a multi-column argmin, rule 9's spirit), and the before/after
    * level means are one correctly-rounded division each from the
    * exact partial sums. A shift-free series still reports its row
    * (max excursion ≈ 0) instead of vanishing. Scale shape: one
    * map-side-combinable count aggregation over the raw stream; every
    * window, join and aggregate after that runs on the
    * calendar-bounded |types|×|days| daily relation. */
  def q203CusumShift(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy($"event_type",
        floor(sec($"ts") / 86400L).cast("long").as("day"))
      .agg(count(lit(1)).as("x"))
    val tot = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val cum = daily.join(tot, "event_type")
      .select($"event_type", $"day", $"n", $"sx",
        sum($"x").over(w).as("cx"), row_number().over(w).as("i"))
      .select($"event_type", $"day", $"n", $"sx", $"cx", $"i",
        abs($"n" * $"cx" - $"i" * $"sx").as("absc"))
    val mx = cum.groupBy($"event_type").agg(max($"absc").as("max_dev"))
    val cp = cum.join(mx, "event_type")
      .filter($"absc" === $"max_dev")
      .groupBy($"event_type").agg(min($"day").as("cp"))
    cum.join(cp, "event_type").filter($"day" === $"cp")
      .select($"event_type", $"n".as("n_days"),
        // pure calendar arithmetic (epoch day + date_add), no timezone
        // path — to_timestamp/strftime would render in the engine's
        // session zone
        date_format(date_add(to_date(lit("1970-01-01")),
          $"day".cast("int")), "yyyy-MM-dd").as("cp_day"),
        $"absc".as("max_dev_scaled"),
        stableRound($"cx".cast("double") / $"i", 6).as("mean_before"),
        when($"n" > $"i",
          stableRound(($"sx" - $"cx").cast("double") / ($"n" - $"i"), 6))
          .as("mean_after"))
      .orderBy($"event_type")
  }

  val q203CusumShiftSql: String =
    s"""WITH daily AS (SELECT event_type,
       |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
       |    CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |tot AS (SELECT event_type, count(*) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx
       |  FROM daily GROUP BY event_type),
       |cum AS (SELECT d.event_type, d.day, t.n, t.sx,
       |    CAST(sum(d.x) OVER (PARTITION BY d.event_type
       |      ORDER BY d.day) AS BIGINT) AS cx,
       |    row_number() OVER (PARTITION BY d.event_type
       |      ORDER BY d.day) AS i
       |  FROM daily d JOIN tot t USING (event_type)),
       |ab AS (SELECT *, abs(n * cx - i * sx) AS absc FROM cum),
       |mx AS (SELECT event_type, max(absc) AS max_dev
       |  FROM ab GROUP BY event_type),
       |cp AS (SELECT a.event_type, min(a.day) AS cp
       |  FROM ab a JOIN mx m USING (event_type)
       |  WHERE a.absc = m.max_dev GROUP BY a.event_type)
       |SELECT a.event_type, a.n AS n_days,
       |  strftime(DATE '1970-01-01' + CAST(a.day AS INTEGER), '%Y-%m-%d')
       |    AS cp_day,
       |  a.absc AS max_dev_scaled,
       |  ${sqlRound("CAST(a.cx AS DOUBLE) / a.i", 6)} AS mean_before,
       |  CASE WHEN a.n > a.i
       |       THEN ${sqlRound("CAST(a.sx - a.cx AS DOUBLE) / (a.n - a.i)", 6)}
       |       END AS mean_after
       |FROM ab a JOIN cp c ON a.event_type = c.event_type AND a.day = c.cp
       |ORDER BY a.event_type""".stripMargin


  // ---------------------------------------------------------------
  // q206: Theil–Sen robust trend (median of pairwise slopes)
  // ---------------------------------------------------------------

  /** Theil–Sen estimator over each type's daily event-count series
    * (Theil 1950; Sen 1968) — the robust companion of q202's OLS: the
    * median of ALL pairwise slopes (xⱼ−xᵢ)/(tⱼ−tᵢ) has a 29.3%
    * breakdown point, so a burst of outlier days cannot drag the
    * trend the way it drags least squares. Slopes are gridded to
    * integer ppm the moment they are born (one double division each
    * — identical correctly-rounded IEEE op in both engines, rule 10),
    * and the median is the exact histogram order statistic over the
    * gridded values (q85/q133 machinery — never a global row sort).
    * Scale shape: the pair relation is the calendar-bounded daily
    * relation self-joined per type (O(days²) per type — metadata at
    * any corpus scale: ten years of days is 6.6M pairs), and the
    * median runs on the ≤|distinct slopes| histogram. */
  def q206TheilSen(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy($"event_type",
        floor(sec($"ts") / 86400L).cast("long").as("day"))
      .agg(count(lit(1)).as("x"))
    val a = daily.select($"event_type", $"day".as("ti"), $"x".as("xi"))
    val b = daily.select($"event_type", $"day".as("tj"), $"x".as("xj"))
    val pairs = a.join(b, "event_type").filter($"ti" < $"tj")
      .select($"event_type",
        floor((($"xj" - $"xi") / ($"tj" - $"ti")) * 1000000.0 + 0.5)
          .cast("long").as("sp"))
    val h = pairs.groupBy($"event_type", $"sp").agg(count(lit(1)).as("c"))
    val wT = Window.partitionBy($"event_type")
    h.select($"event_type", $"sp", $"c",
        sum($"c").over(wT.orderBy($"sp")).as("cum"),
        sum($"c").over(wT).as("nn"))
      .groupBy($"event_type")
      .agg(max($"nn").as("n_pairs"),
        min(when($"cum" * 2 >= $"nn", $"sp")).as("ts_slope_ppm"),
        min($"sp").as("min_slope_ppm"),
        max($"sp").as("max_slope_ppm"))
      .orderBy($"event_type")
  }

  val q206TheilSenSql: String =
    s"""WITH daily AS (SELECT event_type,
       |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
       |    CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |pr AS (SELECT a.event_type,
       |    CAST(floor((b.x - a.x) / (b.day - a.day) * 1000000.0 + 0.5)
       |      AS BIGINT) AS sp
       |  FROM daily a JOIN daily b
       |    ON a.event_type = b.event_type AND a.day < b.day),
       |h AS (SELECT event_type, sp, count(*) AS c FROM pr GROUP BY 1, 2),
       |cu AS (SELECT event_type, sp, c,
       |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY sp)
       |      AS BIGINT) AS cum,
       |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS nn
       |  FROM h)
       |SELECT event_type, max(nn) AS n_pairs,
       |  min(CASE WHEN cum * 2 >= nn THEN sp END) AS ts_slope_ppm,
       |  min(sp) AS min_slope_ppm, max(sp) AS max_slope_ppm
       |FROM cu GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q207: naive-forecast backtest (WAPE at 1-day / 7-day horizons)
  // ---------------------------------------------------------------

  /** Forecast-accuracy backtest of the two standard naive baselines
    * over each type's daily series: persistence (x̂ₜ = xₜ₋₁) and
    * seasonal-naive (x̂ₜ = xₜ₋₇) — the error floors every real
    * forecasting system is judged against (Hyndman's MASE uses
    * exactly these as denominators). Accuracy is WAPE in integer ppm
    * (Σ|x−x̂|·10⁶ ÷ Σx, one floor division from exact BIGINT sums) —
    * deliberately not MAPE, whose per-row division is undefined on
    * zero-count days and floating-order-dependent. Each horizon only
    * scores days whose lagged day EXISTS (calendar join, not an
    * observed-row lag — a gap day must not silently shift the
    * horizon). Scale shape: one count aggregation over the raw
    * stream; both horizon joins and aggregates run on the
    * calendar-bounded daily relation. */
  def q207NaiveBacktest(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy($"event_type",
        floor(sec($"ts") / 86400L).cast("long").as("day"))
      .agg(count(lit(1)).as("x"))
    def bt(k: Int): DataFrame = daily
      .join(daily.select($"event_type", ($"day" + lit(k.toLong)).as("day"),
        $"x".as("f")), Seq("event_type", "day"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs($"x" - $"f")).as("sum_abs_err"),
        sum($"x").as("sum_actual"))
      .select($"event_type", lit(k).as("horizon_days"), $"n_days",
        $"sum_abs_err", $"sum_actual",
        expr("(sum_abs_err * 1000000) div sum_actual").as("wape_ppm"))
    bt(1).unionAll(bt(7)).orderBy($"event_type", $"horizon_days")
  }

  val q207NaiveBacktestSql: String = {
    def btSql(k: Int): String =
      s"""SELECT d.event_type, $k AS horizon_days, count(*) AS n_days,
         |    CAST(sum(abs(d.x - f.x)) AS BIGINT) AS sum_abs_err,
         |    CAST(sum(d.x) AS BIGINT) AS sum_actual
         |  FROM daily d JOIN daily f
         |    ON d.event_type = f.event_type AND d.day = f.day + $k
         |  GROUP BY d.event_type""".stripMargin
    s"""WITH daily AS (SELECT event_type,
       |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
       |    CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |bt AS (${btSql(1)}
       |UNION ALL
       |${btSql(7)})
       |SELECT event_type, horizon_days, n_days, sum_abs_err, sum_actual,
       |  (sum_abs_err * 1000000) // sum_actual AS wape_ppm
       |FROM bt ORDER BY event_type, horizon_days""".stripMargin
  }


  // ---------------------------------------------------------------
  // q209: exact rolling distinct actives (DAU / WAU / stickiness)
  // ---------------------------------------------------------------

  /** Daily / 7-day-rolling distinct active users and the DAU/WAU
    * stickiness ratio — the engagement surface every product
    * dashboard pages on, computed EXACTLY at scale. A windowed
    * count-distinct cannot be expressed as a window aggregate (state
    * is a set, not a monoid), so the scale-correct exact algorithm is
    * the coverage expansion: each (user, active-day) row covers the 7
    * calendar days it keeps the user active for, distinct on the
    * covered grain, then a plain count per day — a bounded 7× fanout
    * of the user-day relation, all map-side-combinable aggregations,
    * no per-day set state anywhere. Stickiness is an integer floor
    * division of exact counts. Only days with actual activity report
    * (the DAU join prunes pure-coverage tail days). */
  def q209RollingActives(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select($"user_id", floor(sec($"ts") / 86400L).cast("long").as("day"))
      .distinct()
    val dau = ud.groupBy($"day").agg(count(lit(1)).as("dau"))
    val cov = ud
      .select($"user_id", $"day",
        explode(sequence(lit(0L), lit(6L))).as("k"))
      .select($"user_id", ($"day" + $"k").as("day"))
      .distinct()
    val wau = cov.groupBy($"day").agg(count(lit(1)).as("wau7"))
    dau.join(wau, "day")
      .select($"day", $"dau", $"wau7",
        expr("(dau * 1000000) div wau7").as("stickiness_ppm"))
      .orderBy($"day")
  }

  val q209RollingActivesSql: String =
    s"""WITH ud AS (SELECT DISTINCT user_id,
       |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day
       |  FROM events),
       |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
       |cov AS (SELECT DISTINCT ud.user_id, ud.day + t.k AS day
       |  FROM ud, UNNEST(range(0, 7)) AS t(k)),
       |wau AS (SELECT day, count(*) AS wau7 FROM cov GROUP BY day)
       |SELECT d.day, d.dau, w.wau7,
       |  (d.dau * 1000000) // w.wau7 AS stickiness_ppm
       |FROM dau d JOIN wau w USING (day) ORDER BY d.day""".stripMargin


  // ---------------------------------------------------------------
  // q212: time-weighted average price (TWAP) per instrument-day
  // ---------------------------------------------------------------

  /** Daily TWAP over the tick stream — the execution benchmark
    * algorithmic trading desks settle against (each price weighted by
    * how LONG it stood, not how often it printed — a burst of
    * same-price ticks must not drag the average the way the plain
    * mean lets it). Interval weights come from one lead over the
    * (tsec, event_id)-tie-broken per-(type, day) order; the weighted
    * sum is exact BIGINT cents×seconds, with one stableRound division
    * at the end. The last tick of each day carries no interval (open
    * intervals are not invented), and a day whose ticks all share one
    * second reports no TWAP row in either engine. Scale shape: one
    * window and one aggregation, both partitioned by (type, day) —
    * tick-grain but key-parallel; output is calendar-bounded. */
  def q212Twap(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select($"event_type",
      date_format($"ts", "yyyy-MM-dd").as("day"),
      sec($"ts").as("tsec"), $"event_id",
      floor($"value" * 100.0 + 0.5).cast("long").as("cents"))
    val w = Window.partitionBy($"event_type", $"day")
      .orderBy($"tsec", $"event_id")
    ev.select($"event_type", $"day", $"cents",
        (lead($"tsec", 1).over(w) - $"tsec").as("dt"))
      .filter($"dt".isNotNull)
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n_intervals"),
        sum($"cents" * $"dt").as("num"), sum($"dt").as("den"))
      .filter($"den" > 0L)
      .select($"event_type", $"day", $"n_intervals",
        stableRound($"num".cast("double") / $"den" / 100.0, 6).as("twap"))
      .orderBy($"event_type", $"day")
  }

  val q212TwapSql: String =
    s"""WITH ev AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id,
       |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
       |  FROM events),
       |iv AS (SELECT event_type, day, cents,
       |    lead(tsec) OVER (PARTITION BY event_type, day
       |      ORDER BY tsec, event_id) - tsec AS dt
       |  FROM ev),
       |ag AS (SELECT event_type, day, count(*) AS n_intervals,
       |    CAST(sum(cents * dt) AS BIGINT) AS num,
       |    CAST(sum(dt) AS BIGINT) AS den
       |  FROM iv WHERE dt IS NOT NULL GROUP BY 1, 2)
       |SELECT event_type, day, n_intervals,
       |  ${sqlRound("CAST(num AS DOUBLE) / den / 100.0", 6)} AS twap
       |FROM ag WHERE den > 0 ORDER BY event_type, day""".stripMargin


  // ---------------------------------------------------------------
  // q216: event-sequence trigram mining (behavioral path census)
  // ---------------------------------------------------------------

  /** Third-order sequential pattern census — the behavioral-path
    * surface beyond q100's first-order transition matrix: every
    * consecutive (t₁→t₂→t₃) triple in each user's event stream,
    * counted corpus-wide with an integer-ppm share of all triples.
    * Two stacked leads over the same (ts, event_id)-tie-broken
    * per-user window (one exchange, one sort — Spark collapses both
    * lead columns into a single Window node); output bounded by
    * |types|³ at any corpus size, so the census ships complete
    * instead of top-k'd (no rank ties to adjudicate). */
  def q216PathTrigrams(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"tsec", $"event_id")
    val tri = Tables.events(s, d)
      .select($"user_id", $"event_type".as("t1"),
        sec($"ts").as("tsec"), $"event_id")
      .select($"t1",
        lead($"t1", 1).over(w).as("t2"), lead($"t1", 2).over(w).as("t3"))
      .filter($"t3".isNotNull)
    val tot = tri.agg(count(lit(1)).as("total"))
    tri.groupBy($"t1", $"t2", $"t3").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select($"t1", $"t2", $"t3", $"n",
        expr("(n * 1000000) div total").as("share_ppm"))
      .orderBy($"t1", $"t2", $"t3")
  }

  val q216PathTrigramsSql: String =
    s"""WITH ev AS (SELECT user_id, event_type AS t1,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id
       |  FROM events),
       |tr AS (SELECT t1,
       |    lead(t1, 1) OVER (PARTITION BY user_id
       |      ORDER BY tsec, event_id) AS t2,
       |    lead(t1, 2) OVER (PARTITION BY user_id
       |      ORDER BY tsec, event_id) AS t3
       |  FROM ev),
       |tri AS (SELECT t1, t2, t3 FROM tr WHERE t3 IS NOT NULL),
       |tot AS (SELECT count(*) AS total FROM tri)
       |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n,
       |  (count(*) * 1000000) // max(t0.total) AS share_ppm
       |FROM tri CROSS JOIN tot t0
       |GROUP BY t1, t2, t3 ORDER BY t1, t2, t3""".stripMargin


  // ---------------------------------------------------------------
  // q218: longest-activity-streak distribution (gaps and islands)
  // ---------------------------------------------------------------

  /** Distribution of each user's longest consecutive-active-day
    * streak — the retention-depth metric behind "7-day streak" product
    * mechanics, computed with the classic gaps-and-islands technique:
    * within a user, consecutive days share the constant
    * day − row_number() island key, so streak lengths are a plain
    * count per (user, island) with no iteration. Output is the
    * bounded histogram streak length → user count (≤ |days| rows).
    * Scale shape: one user-day distinct, one user-partitioned window
    * (tie-break unnecessary — day is unique per user after the
    * distinct, and the island key depends only on day order), then
    * three map-side-combinable aggregations down the grains. */
  def q218StreakDist(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select($"user_id", floor(sec($"ts") / 86400L).cast("long").as("day"))
      .distinct()
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val streaks = ud
      .select($"user_id", ($"day" - row_number().over(w)).as("isl"))
      .groupBy($"user_id", $"isl").agg(count(lit(1)).as("len"))
      .groupBy($"user_id").agg(max($"len").as("best"))
    streaks.groupBy($"best".as("streak_days"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"streak_days")
  }

  val q218StreakDistSql: String =
    s"""WITH ud AS (SELECT DISTINCT user_id,
       |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day
       |  FROM events),
       |isl AS (SELECT user_id,
       |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
       |      AS isl
       |  FROM ud),
       |st AS (SELECT user_id, isl, count(*) AS len
       |  FROM isl GROUP BY 1, 2),
       |best AS (SELECT user_id, max(len) AS best FROM st GROUP BY 1)
       |SELECT best AS streak_days, count(*) AS n_users
       |FROM best GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q219: A/B experiment readout (two-proportion z-test)
  // ---------------------------------------------------------------

  /** The experimentation readout every product A/B test ends in: users
    * deterministically split into two arms by an md5 coin (the q72
    * hash discipline — reproducible, uncorrelated with behavior),
    * per-arm conversion to each funnel event measured, and the
    * two-proportion pooled z-test computed per metric. Counts are
    * exact integers; rates are integer-ppm floor divisions; z² runs
    * once in rule-7 doubles from the exact counts and the
    * significance call compares the 1e-6-gridded z² to the gridded
    * 1.96² literal (rule 10 — a value one ulp either side of the
    * critical value cannot flip the flag in one engine only). On this
    * null split the expected readout is NOT significant — the row
    * proves the machinery, not a discovery. Scale shape: one
    * user-grain aggregation per metric arm, then 1-row-per-metric
    * arithmetic. */
  def q219AbTest(s: SparkSession, d: String): DataFrame = {
    val metrics = Seq("click", "purchase", "error")
    val convCols = metrics.map(m =>
      max(when($"event_type" === m, 1L).otherwise(0L)).as(s"c_$m"))
    val users = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(convCols.head, convCols.tail: _*)
      .select($"user_id" +: (
        substring(md5($"user_id".cast("string")), 1, 1) < "8")
          .as("arm_a") +: metrics.map(m => col(s"c_$m")): _*)
    val armCols = count(lit(1)).as("n") +:
      metrics.map(m => sum(col(s"c_$m")).as(s"s_$m"))
    val perArm = users.groupBy($"arm_a")
      .agg(armCols.head, armCols.tail: _*)
    val a = perArm.filter($"arm_a").select(
      $"n".as("n_a") +: metrics.map(m => col(s"s_$m").as(s"a_$m")): _*)
    val b = perArm.filter(!$"arm_a").select(
      $"n".as("n_b") +: metrics.map(m => col(s"s_$m").as(s"b_$m")): _*)
    val joined = a.crossJoin(broadcast(b))
    val rows = metrics.map { m =>
      joined.select(lit(m).as("metric"), $"n_a", $"n_b",
        col(s"a_$m").as("conv_a"), col(s"b_$m").as("conv_b"))
    }
    val base = rows.reduce(_ unionAll _)
    def dbl(c: Column): Column = c.cast("double")
    val p1 = dbl($"conv_a") / $"n_a"
    val p2 = dbl($"conv_b") / $"n_b"
    val pp = (dbl($"conv_a") + $"conv_b") / (dbl($"n_a") + $"n_b")
    val zsq = ((p1 - p2) * (p1 - p2)) /
      (pp * (lit(1.0) - pp) * (lit(1.0) / $"n_a" + lit(1.0) / $"n_b"))
    // a metric every user (or no user) converts on has zero pooled
    // variance — the z-test is undefined there, and ANSI division
    // would throw; report NULL z / not-significant in both engines
    val defined = ($"conv_a" + $"conv_b" > 0L) &&
      ($"conv_a" + $"conv_b" < $"n_a" + $"n_b")
    base.select($"metric", $"n_a", $"n_b", $"conv_a", $"conv_b",
        expr("(conv_a * 1000000) div n_a").as("rate_a_ppm"),
        expr("(conv_b * 1000000) div n_b").as("rate_b_ppm"),
        when(defined, floor(zsq * 1000000.0 + 0.5).cast("long"))
          .as("z_sq_micro"))
      .select($"metric", $"n_a", $"n_b", $"conv_a", $"conv_b",
        $"rate_a_ppm", $"rate_b_ppm", $"z_sq_micro",
        coalesce($"z_sq_micro" >= 3841600L, lit(false)).as("significant"))
      .orderBy($"metric")
  }

  val q219AbTestSql: String = {
    val metrics = Seq("click", "purchase", "error")
    val convCols = metrics.map(m =>
      s"max(CASE WHEN event_type = '$m' THEN 1 ELSE 0 END) AS c_$m")
      .mkString(", ")
    val sumCols = metrics.map(m =>
      s"CAST(sum(c_$m) AS BIGINT) AS s_$m").mkString(", ")
    val p1 = "(CAST(conv_a AS DOUBLE) / n_a)"
    val p2 = "(CAST(conv_b AS DOUBLE) / n_b)"
    val pp = "((CAST(conv_a AS DOUBLE) + conv_b) / (CAST(n_a AS DOUBLE) + n_b))"
    val zsq = s"((($p1 - $p2) * ($p1 - $p2)) / " +
      s"($pp * (1.0 - $pp) * (1.0 / n_a + 1.0 / n_b)))"
    val metricRows = metrics.map(m =>
      s"""SELECT '$m' AS metric, a.n_a, b.n_b,
         |    a.s_$m AS conv_a, b.s_$m AS conv_b
         |  FROM a CROSS JOIN b""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH u AS (SELECT user_id,
       |    substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS arm_a,
       |    $convCols
       |  FROM events GROUP BY user_id),
       |pa AS (SELECT arm_a, count(*) AS n, $sumCols
       |  FROM u GROUP BY arm_a),
       |a AS (SELECT n AS n_a, ${metrics.map(m => s"s_$m").mkString(", ")}
       |  FROM pa WHERE arm_a),
       |b AS (SELECT n AS n_b, ${metrics.map(m => s"s_$m").mkString(", ")}
       |  FROM pa WHERE NOT arm_a),
       |base AS ($metricRows)
       |SELECT metric, n_a, n_b, conv_a, conv_b,
       |  (conv_a * 1000000) // n_a AS rate_a_ppm,
       |  (conv_b * 1000000) // n_b AS rate_b_ppm,
       |  CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b
       |       THEN CAST(floor($zsq * 1000000.0 + 0.5) AS BIGINT)
       |       END AS z_sq_micro,
       |  coalesce(CASE WHEN conv_a + conv_b > 0
       |      AND conv_a + conv_b < n_a + n_b
       |      THEN CAST(floor($zsq * 1000000.0 + 0.5) AS BIGINT)
       |      END >= 3841600, FALSE) AS significant
       |FROM base ORDER BY metric""".stripMargin
  }


  // ---------------------------------------------------------------
  // q223: discrete-time conversion hazard table (survival analysis)
  // ---------------------------------------------------------------

  /** Discrete-time survival table for time-to-first-BIG-TICKET-purchase
    * (value ≥ [[BigTicketCents]] cents on the 1e-2 grid) — the
    * life-table form of survival analysis (the Kaplan–Meier
    * discretization growth teams actually read), built WITHOUT the
    * floating cumulative product that makes the continuous estimator
    * cross-engine-hostile, and handling the censoring that q95's
    * converter-only lag histogram cannot: per week w since each
    * user's first activity, n_at_risk (users still unconverted and
    * under observation at w), n_converted (first purchase fell in
    * week w), n_censored (observation window ended at w with no
    * purchase — the corpus horizon, not a conversion), and the
    * discrete hazard d⁄n as integer ppm. Pure integer counts end to
    * end; the at-risk curve is a reverse cumulative sum over the
    * BOUNDED week axis. Scale shape: one user-grain conditional
    * min/max aggregation over the raw stream, a 1-row horizon
    * broadcast, then everything runs on the ≤|weeks| histogram. */
  /** Big-ticket cent threshold (gridded, rule 10) — calibrated so the
    * driver corpus has BOTH converters and censored users at every
    * scale factor (plain first-purchase converts ~100% of users and
    * leaves the censoring branch driver-unexercised). */
  private val BigTicketCents = 9000L

  def q223ConversionHazard(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(min(floor(sec($"ts") / 86400L)).cast("long").as("f"),
        min(when($"event_type" === "purchase" &&
            floor($"value" * 100.0 + 0.5) >= BigTicketCents,
          floor(sec($"ts") / 86400L))).cast("long").as("p"))
    // horizon = the latest observed day in the raw stream — the true
    // end of the observation window for censoring
    val hz = Tables.events(s, d)
      .agg(max(floor(sec($"ts") / 86400L)).cast("long").as("hh"))
    val obs = ud.crossJoin(broadcast(hz))
      .select($"user_id",
        $"p".isNotNull.as("converted"),
        when($"p".isNotNull, expr("(p - f) div 7"))
          .otherwise(expr("(hh - f) div 7")).as("week"))
    val histo = obs.groupBy($"week")
      .agg(count(lit(1)).as("n_ending"),
        sum(when($"converted", 1L).otherwise(0L)).as("n_converted"),
        sum(when(!$"converted", 1L).otherwise(0L)).as("n_censored"))
    // n_at_risk(w) = users whose observation ends at week >= w: a
    // reverse cumulative sum over the bounded week axis
    val wk = Window.orderBy($"week".desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    histo
      .select($"week", $"n_converted", $"n_censored",
        sum($"n_ending").over(wk).as("n_at_risk"))
      .select($"week", $"n_at_risk", $"n_converted", $"n_censored",
        expr("(n_converted * 1000000) div n_at_risk").as("hazard_ppm"))
      .orderBy($"week")
  }

  val q223ConversionHazardSql: String =
    s"""WITH ud AS (SELECT user_id,
       |    CAST(min(floor(floor(epoch(ts)) / 86400)) AS BIGINT) AS f,
       |    CAST(min(CASE WHEN event_type = 'purchase'
       |        AND floor(value * 100.0 + 0.5) >= $BigTicketCents
       |      THEN floor(floor(epoch(ts)) / 86400) END) AS BIGINT) AS p
       |  FROM events GROUP BY user_id),
       |hz AS (SELECT CAST(max(floor(floor(epoch(ts)) / 86400))
       |    AS BIGINT) AS hh FROM events),
       |obs AS (SELECT user_id, (p IS NOT NULL) AS converted,
       |    CASE WHEN p IS NOT NULL THEN (p - f) // 7
       |         ELSE (hh - f) // 7 END AS week
       |  FROM ud CROSS JOIN hz),
       |histo AS (SELECT week, count(*) AS n_ending,
       |    CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_converted,
       |    CAST(sum(CASE WHEN converted THEN 0 ELSE 1 END) AS BIGINT)
       |      AS n_censored
       |  FROM obs GROUP BY week),
       |ar AS (SELECT week, n_converted, n_censored,
       |    CAST(sum(n_ending) OVER (ORDER BY week DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
       |  FROM histo)
       |SELECT week, n_at_risk, n_converted, n_censored,
       |  (n_converted * 1000000) // n_at_risk AS hazard_ppm
       |FROM ar ORDER BY week""".stripMargin

  // ---------------------------------------------------------------
  // q224: conversion attribution (first-touch vs last-touch)
  // ---------------------------------------------------------------

  /** Marketing-style conversion attribution — for every purchase,
    * which event channel gets the credit under the two standard
    * models: FIRST touch (the channel that acquired the user) and
    * LAST touch (the channel that closed), per-channel conversion
    * census for both models side by side. Touches and purchases ride
    * ONE per-user window pass (union-then-window, the q32 as-of
    * discipline): rows ordered by (tsec, kind, event_id) — kind puts
    * a same-second touch BEFORE the purchase deterministically — and
    * both attributions are running first/last of the touch-channel
    * column with nulls ignored. Purchases with no preceding touch
    * credit the 'none' channel (never dropped). Scale shape: one
    * user-keyed exchange + window, then a bounded |channels|-axis
    * aggregation; the two models share the single pass. */
  def q224Attribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select($"user_id", $"event_type", sec($"ts").as("tsec"),
        $"event_id",
        when($"event_type" === "purchase", 1L).otherwise(0L).as("kind"),
        when($"event_type" =!= "purchase", $"event_type").as("touch"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"tsec", $"kind", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val attributed = ev
      .select($"user_id", $"kind",
        first($"touch", ignoreNulls = true).over(w).as("first_touch"),
        last($"touch", ignoreNulls = true).over(w).as("last_touch"))
      .filter($"kind" === 1L)
      .select(coalesce($"first_touch", lit("none")).as("first_touch"),
        coalesce($"last_touch", lit("none")).as("last_touch"))
    val ft = attributed.groupBy($"first_touch".as("channel"))
      .agg(count(lit(1)).as("first_touch_convs"))
    val lt = attributed.groupBy($"last_touch".as("channel"))
      .agg(count(lit(1)).as("last_touch_convs"))
    ft.join(lt, Seq("channel"), "full_outer")
      .select($"channel",
        coalesce($"first_touch_convs", lit(0L)).as("first_touch_convs"),
        coalesce($"last_touch_convs", lit(0L)).as("last_touch_convs"))
      .orderBy($"channel")
  }

  val q224AttributionSql: String =
    s"""WITH ev AS (SELECT user_id, event_type,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS kind,
       |    CASE WHEN event_type <> 'purchase' THEN event_type
       |         END AS touch
       |  FROM events),
       |at AS (SELECT user_id, kind,
       |    first_value(touch IGNORE NULLS) OVER (PARTITION BY user_id
       |      ORDER BY tsec, kind, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS first_touch,
       |    last_value(touch IGNORE NULLS) OVER (PARTITION BY user_id
       |      ORDER BY tsec, kind, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS last_touch
       |  FROM ev),
       |pu AS (SELECT coalesce(first_touch, 'none') AS first_touch,
       |    coalesce(last_touch, 'none') AS last_touch
       |  FROM at WHERE kind = 1),
       |ft AS (SELECT first_touch AS channel, count(*)
       |    AS first_touch_convs FROM pu GROUP BY 1),
       |lt AS (SELECT last_touch AS channel, count(*)
       |    AS last_touch_convs FROM pu GROUP BY 1)
       |SELECT coalesce(f.channel, l.channel) AS channel,
       |  coalesce(f.first_touch_convs, 0) AS first_touch_convs,
       |  coalesce(l.last_touch_convs, 0) AS last_touch_convs
       |FROM ft f FULL OUTER JOIN lt l ON f.channel = l.channel
       |ORDER BY channel""".stripMargin

  // ---------------------------------------------------------------
  // q254: personalized PageRank (seeded teleport, RWR)
  // ---------------------------------------------------------------

  /** Teleport seed: all restart mass lands on this event type — the
    * "random walk with restart" personalization (the recommender
    * question "what is reachable FROM here", vs q110's global
    * centrality). */
  private val PprSeed = "view"

  /** Personalized PageRank / random-walk-with-restart over the q110
    * transition graph (Haveliwala WWW 2002; Tong et al. ICDM 2006,
    * public): identical power iteration, but ALL teleport mass
    * returns to the [[PprSeed]] node instead of spreading uniformly —
    * the scores rank nodes by proximity to the seed, the third member
    * of the link-analysis family (q110 global, q237 mutual-
    * reinforcement, q254 seeded). Same integer-ppb grid, same
    * identical-IEEE floor divides, same staged edge relation (the
    * SAME stage key as q110 — one materialization serves both).
    *
    * Scale: per iteration one edges⋈ranks equi-join + map-side-
    * combinable aggregate (the Pregel round); the seed teleport is a
    * per-row CASE, no broadcast needed. */
  def q254PersonalizedPagerank(s: SparkSession, d: String): DataFrame = {
    val edgesDf = prEdges(s, d)
    pprRounds(Staged.orCompute(s, d, s"pr$PrIters",
      "pr_edges", Staged.planHash(edgesDf))(edgesDf))
  }

  /** The seeded power iteration over a prepared (src, dst, n) edge
    * relation — split from [[q254PersonalizedPagerank]] for the
    * crafted-graph spec. */
  private[graft] def pprRounds(edges: DataFrame): DataFrame =
    pagerank(edges, prNodes(edges), PrIters, Some(PprSeed))
      .select($"node", $"r".as("rank_ppb"))
      .orderBy($"rank_ppb".desc, $"node")

  val q254PersonalizedPagerankSql: String = {
    val iters = (1 to PrIters).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
         |    CAST(sum(CAST(floor(CAST(r.r * e.n AS DOUBLE) / o.wout)
         |                  AS BIGINT)) AS BIGINT) AS s
         |  FROM r${i - 1} r JOIN edges e ON r.node = e.src
         |  JOIN outw o ON e.src = o.src GROUP BY e.dst),
         |r$i AS (SELECT n.node,
         |    CASE WHEN n.node = '$PprSeed' THEN 150000000 ELSE 0 END +
         |    CAST(floor(coalesce(c.s, 0) * 85.0 / 100.0) AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN c$i c ON n.node = c.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ord AS (SELECT event_type AS src,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY floor(epoch(ts)), event_id) AS dst
       |  FROM events),
       |edges AS (SELECT src, dst, count(*) AS n FROM ord
       |  WHERE dst IS NOT NULL GROUP BY 1, 2),
       |outw AS (SELECT src, CAST(sum(n) AS BIGINT) AS wout
       |  FROM edges GROUP BY 1),
       |nodes AS (SELECT src AS node FROM edges
       |  UNION SELECT dst FROM edges),
       |r0 AS (SELECT node,
       |    CAST(CASE WHEN node = '$PprSeed' THEN 1000000000 ELSE 0 END
       |      AS BIGINT) AS r
       |  FROM nodes),
       |$iters
       |SELECT node, r AS rank_ppb FROM r$PrIters
       |ORDER BY rank_ppb DESC, node""".stripMargin
  }


  // ---------------------------------------------------------------
  // q270: distribution-drift monitor — two-sample chi-square
  // ---------------------------------------------------------------

  /** Value-band count for the drift monitor: cent-grid value, 25.00
    * per band, clamped to a 16-value axis. */
  private[graft] val DriftBands = 16L

  /** Distribution-drift monitor — the check a production scorer runs
    * before trusting this week's traffic against last week's model:
    * the event-value distribution of the stream's FIRST half (by
    * event-time midpoint) against its SECOND half, as a two-sample
    * Pearson chi-square contingency over a bounded 16-band value axis
    * (Pearson 1900, public; the chi-square drift test is PSI's
    * transcendental-free sibling — no ln, so the whole statistic is
    * exact-count arithmetic plus ONE identical-IEEE expression per
    * band). Per band: reference/current counts, expected counts under
    * the no-drift null, and the chi-square contribution in ppm — the
    * bands a drift alarm localizes to.
    *
    * Determinism: bands are exact cent-grid integer arithmetic
    * (rule 2 + rule 13); the time cut is the exact integer day
    * midpoint; the per-band contribution is one rule-7 double
    * expression over exact BIGINT counts, ppm-gridded (rule 10).
    *
    * Scale: one scan to the (band, side) conditional counts
    * (map-side-combinable, 16-row output), one 1-row midpoint
    * broadcast and one 1-row totals broadcast — no shuffle beyond
    * the bounded aggregations. */
  def q270DriftChi2(s: SparkSession, d: String): DataFrame =
    driftChi2(Tables.events(s, d).select(
      expr("unix_micros(ts) div 86400000000").as("day"),
      least(expr("floor(value * 100 + 0.5) div 2500"),
        lit(DriftBands - 1L)).cast("long").as("band")))

  private[graft] def driftChi2(ev: DataFrame): DataFrame = {
    val cut = ev.agg(((min($"day") + max($"day") + 1L)).as("mm"))
      .select(expr("mm div 2").as("cutd"))
    val bc = ev.crossJoin(broadcast(cut))
      .groupBy($"band")
      .agg(sum(when($"day" < $"cutd", 1L).otherwise(0L)).as("a"),
        sum(when($"day" >= $"cutd", 1L).otherwise(0L)).as("c"))
    val tot = bc.agg(sum($"a").as("ta"), sum($"c").as("tc"))
    val j = bc.crossJoin(broadcast(tot))
    val ea = (($"a" + $"c").cast("double") * $"ta") / ($"ta" + $"tc")
    val ec = (($"a" + $"c").cast("double") * $"tc") / ($"ta" + $"tc")
    // Loud degenerate-corpus guard (round-11 advice): a corpus whose
    // events span a single day puts EVERY row on one side (ta or
    // tc = 0), so (a-ea)²/ea = 0/0 = NaN — Spark would cast NaN to 0
    // silently while DuckDB raises on CAST(NaN AS BIGINT), a
    // cross-engine divergence. Both mirrors raise identically instead.
    val chi2 = (($"a" - ea) * ($"a" - ea) / ea) +
      (($"c" - ec) * ($"c" - ec) / ec)
    j.select($"band", $"a".as("n_ref"), $"c".as("n_cur"),
      floor(ea * 100.0 + 0.5).cast("long").as("e_ref_centi"),
      when($"ta" === 0L || $"tc" === 0L, raise_error(lit(
          "driftChi2: degenerate corpus — one time side is empty")))
        .otherwise(floor(chi2 * 1e6 + 0.5).cast("long"))
        .as("chi2_contrib_ppm"))
      .orderBy($"band")
  }

  val q270DriftChi2Sql: String =
    s"""WITH ev AS (SELECT
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
       |    least(CAST(floor(value * 100 + 0.5) AS BIGINT) // 2500,
       |      ${DriftBands - 1L}) AS band
       |  FROM events),
       |cut AS (SELECT (min(day) + max(day) + 1) // 2 AS cutd FROM ev),
       |bc AS (SELECT band,
       |    CAST(sum(CASE WHEN day < cutd THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN day >= cutd THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM ev, cut GROUP BY band),
       |tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
       |    CAST(sum(c) AS BIGINT) AS tc FROM bc)
       |SELECT band, a AS n_ref, c AS n_cur,
       |  CAST(floor(((CAST(a + c AS DOUBLE) * ta) / (ta + tc)) * 100.0
       |    + 0.5) AS BIGINT) AS e_ref_centi,
       |  CASE WHEN ta = 0 OR tc = 0 THEN error(
       |    'driftChi2: degenerate corpus — one time side is empty')
       |  ELSE
       |  CAST(floor(((a - (CAST(a + c AS DOUBLE) * ta) / (ta + tc))
       |      * (a - (CAST(a + c AS DOUBLE) * ta) / (ta + tc))
       |      / ((CAST(a + c AS DOUBLE) * ta) / (ta + tc))
       |    + (c - (CAST(a + c AS DOUBLE) * tc) / (ta + tc))
       |      * (c - (CAST(a + c AS DOUBLE) * tc) / (ta + tc))
       |      / ((CAST(a + c AS DOUBLE) * tc) / (ta + tc))) * 1e6 + 0.5)
       |    AS BIGINT)
       |  END AS chi2_contrib_ppm
       |FROM bc, tot
       |ORDER BY band""".stripMargin

  // ---------------------------------------------------------------
  // q280: Wald SPRT sequential monitor (two-phase cumulative walk)
  // ---------------------------------------------------------------

  /** ln(p1/p0) = ln(0.55/0.45) = ln(11/9) on the micro-nat grid, a
    * compile-time LITERAL — by symmetry ln((1−p1)/(1−p0)) = −this, so
    * the log-likelihood walk is SprtLnRMicro·(2S_n − n): pure integer
    * arithmetic, no transcendental at query time (rule 8 by
    * construction). */
  private[graft] val SprtLnRMicro = 200671L

  /** Wald boundaries at α = β = 0.05: ln(19) micro-nats (accept H1 at
    * ≥ this, accept H0 at ≤ −this — symmetric error costs). */
  private[graft] val SprtBoundMicro = 2944439L

  /** Bernoulli success: the event's value clears this cut — pinned at
    * the value distribution's MEDIAN (~34.6, heavily right-skewed), so
    * the walk genuinely wanders and all three outcomes are measured
    * live: accept_h1/accept_h0 split by type at sf0.01/0.1, four
    * types still 'continue' at sf0.001, crossing times 67–825. A cut
    * in the tail makes every walk monotone (the first probe at 245.0
    * decided H0 at n=15 for every type — a dead statistic). */
  private[graft] val SprtValueCut = 34.0

  /** Wald's sequential probability ratio test (Wald 1945) per event
    * type — the SEQUENTIAL companion to q219's fixed-horizon z-test:
    * instead of waiting for the full sample, the monitor walks the
    * stream in time order accumulating the log-likelihood ratio of
    * H1: p = 0.55 vs H0: p = 0.45 for "value clears [[SprtValueCut]]",
    * and reports the FIRST boundary crossing (the early-stopping
    * decision an experimentation platform acts on) plus the full-
    * stream LLR. Symmetric hypotheses make the walk
    * [[SprtLnRMicro]]·(2S_n − n) — exact integers end to end.
    *
    * Scale shape: a per-type running sum is a sequential scan of the
    * whole type at 100 TB, so the walk runs the q111 TWO-PHASE prefix
    * decomposition: per-(type, day) partial sums in parallel plus a
    * broadcast day-grain carry relation — the textbook distributed
    * scan; the oracle is the independent SINGLE-phase walk, so the
    * decomposition itself is what the hash check proves. The first
    * crossing is min(n) over boundary rows (n is a unique total order
    * within type — rule 3's (tsec, event_id) tie-break feeds
    * row_number), recovered with one equi-join back to the crossing
    * rows; the readout is |types| rows. */
  def q280Sprt(s: SparkSession, d: String): DataFrame =
    sprt(Tables.events(s, d).select($"event_type", $"event_id",
      sec($"ts").as("tsec"), $"value"))

  private[graft] def sprt(ev: DataFrame): DataFrame = {
    val base = ev.filter($"value".isNotNull)
      .select($"event_type", $"event_id", $"tsec",
        when($"value" >= SprtValueCut, 1L).otherwise(0L).as("x"),
        expr("tsec div 86400").as("day"))
    val wDays = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = base.groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("cnt"), sum($"x").as("sx"))
      .select($"event_type", $"day",
        coalesce(sum($"cnt").over(wDays), lit(0L)).as("carry_n"),
        coalesce(sum($"sx").over(wDays), lit(0L)).as("carry_s"))
    val wDay = Window.partitionBy($"event_type", $"day")
      .orderBy($"tsec", $"event_id")
    val walked = base
      .join(broadcast(carry), Seq("event_type", "day"))
      .select($"event_type",
        ($"carry_n" + row_number().over(wDay)).as("n"),
        ($"carry_s" + sum($"x").over(
          wDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .as("s"))
      .select($"event_type", $"n",
        (lit(SprtLnRMicro) * (lit(2L) * $"s" - $"n")).as("llr"))
    val cross = walked.filter(abs($"llr") >= SprtBoundMicro)
    val firstN = cross.groupBy($"event_type").agg(min($"n").as("n_decide"))
    val at = cross.join(firstN, Seq("event_type"))
      .filter($"n" === $"n_decide")
      .select($"event_type", $"n_decide", $"llr".as("llr_decide_micro"))
    val tot = base.groupBy($"event_type")
      .agg(count(lit(1)).as("n_total"), sum($"x").as("s_total"))
      .select($"event_type", $"n_total",
        (lit(SprtLnRMicro) * (lit(2L) * $"s_total" - $"n_total"))
          .as("final_llr_micro"))
    tot.join(at, Seq("event_type"), "left")
      .select($"event_type", $"n_total", $"final_llr_micro",
        $"n_decide", $"llr_decide_micro",
        when($"n_decide".isNull, lit("continue"))
          .when($"llr_decide_micro" >= SprtBoundMicro, lit("accept_h1"))
          .otherwise(lit("accept_h0")).as("decision"))
      .orderBy($"event_type")
  }

  val q280SprtSql: String =
    s"""WITH base AS (
       |  SELECT event_type, event_id,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
       |    CASE WHEN value >= $SprtValueCut THEN 1 ELSE 0 END AS x
       |  FROM events WHERE value IS NOT NULL),
       |walked AS (SELECT event_type,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY tsec, event_id) AS n,
       |    CAST(sum(x) OVER (PARTITION BY event_type
       |      ORDER BY tsec, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS s
       |  FROM base),
       |llr AS (SELECT event_type, n,
       |    $SprtLnRMicro * (2 * s - n) AS llr FROM walked),
       |cross_rows AS (SELECT * FROM llr
       |  WHERE abs(llr) >= $SprtBoundMicro),
       |firstn AS (SELECT event_type, min(n) AS n_decide
       |  FROM cross_rows GROUP BY 1),
       |at AS (SELECT c.event_type, f.n_decide, c.llr AS llr_decide_micro
       |  FROM cross_rows c JOIN firstn f ON f.event_type = c.event_type
       |    AND c.n = f.n_decide),
       |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
       |    CAST($SprtLnRMicro * (2 * CAST(sum(x) AS BIGINT) - count(*))
       |      AS BIGINT) AS final_llr_micro
       |  FROM base GROUP BY 1)
       |SELECT tot.event_type, n_total, final_llr_micro,
       |  at.n_decide, at.llr_decide_micro,
       |  CASE WHEN at.n_decide IS NULL THEN 'continue'
       |    WHEN at.llr_decide_micro >= $SprtBoundMicro THEN 'accept_h1'
       |    ELSE 'accept_h0' END AS decision
       |FROM tot LEFT JOIN at ON at.event_type = tot.event_type
       |ORDER BY tot.event_type""".stripMargin

  // ---------------------------------------------------------------
  // q286: Markov entropy rate of the event-type chain (micro-nats)
  // ---------------------------------------------------------------

  /** Entropy rate of the first-order event-type Markov chain
    * (Shannon 1948 §7; Cover–Thomas ch. 4) — the PREDICTABILITY
    * census over q100's transition grain and the information-theoretic
    * companion to q110's rank and q203's CUSUM: per current state s
    * the conditional next-symbol entropy H(X'|s) = Σ_t p(t|s)·ln(1/
    * p(t|s)), and the chain's empirical entropy rate Σ_s p̂(s)·H(X'|s)
    * with the visit distribution as weights — low rate means journeys
    * are script-like (predictable funnels), high rate means churn.
    *
    * Determinism: both ln sites (ln c(s,t) per transition pair,
    * ln c(s) per state — registered in TextOps.lnBoundaryHazards,
    * rule 8) land on the micro-nat grid BEFORE any arithmetic, so
    * every per-pair term c(s,t)·(g(ln c_s) − g(ln c_st)) is an exact
    * non-negative BIGINT (c_st ≤ c_s keeps the gridded difference
    * ≥ 0) and the two divisions are rule-13-safe integer floors.
    *
    * Scale shape: reads the SAME staged transition relation as
    * q110/q254 (one per-user lead window, materialized once per
    * corpus); everything after lives on the bounded |types|² axis —
    * the hazard twin, the per-state aggregate, and the 1-row overall
    * rate are all metadata-sized. */
  def q286EntropyRate(s: SparkSession, d: String): DataFrame = {
    val edgesDf = prEdges(s, d)
    entropyRate(Staged.orCompute(s, d, s"pr$PrIters",
      "pr_edges", Staged.planHash(edgesDf))(edgesDf))
  }

  /** The entropy census over a prepared (src, dst, n) transition
    * relation — split from [[q286EntropyRate]] for the crafted spec. */
  private[graft] def entropyRate(edges: DataFrame): DataFrame = {
    val cs = edges.groupBy($"src").agg(sum($"n").as("cs"),
      count(lit(1)).as("n_dest"))
    val terms = edges.join(cs, Seq("src"))
      .select($"src", $"cs", $"n_dest",
        ($"n" * (floor(log($"cs".cast("double")) * 1e6 + 0.5).cast("long") -
          floor(log($"n".cast("double")) * 1e6 + 0.5).cast("long")))
          .as("term"))
    val perState = terms.groupBy($"src").agg(max($"cs").as("n_trans"),
      max($"n_dest").as("n_dest"), sum($"term").as("st"))
      .select($"src".as("from_type"), $"n_trans", $"n_dest",
        expr("st div n_trans").as("h_cond_micro"))
    val total = terms.agg(sum($"term").as("st"))
      .crossJoin(broadcast(edges.agg(sum($"n").as("ctot"))))
      .select(lit("_overall").as("from_type"), $"ctot".as("n_trans"),
        lit(null).cast("long").as("n_dest"),
        expr("st div ctot").as("h_cond_micro"))
    perState.unionByName(total).orderBy($"from_type")
  }

  val q286EntropyRateSql: String =
    s"""WITH ord AS (SELECT event_type AS src,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY floor(epoch(ts)), event_id) AS dst
       |  FROM events),
       |edges AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
       |  FROM ord WHERE dst IS NOT NULL GROUP BY 1, 2),
       |cs AS (SELECT src, CAST(sum(n) AS BIGINT) AS cs,
       |    CAST(count(*) AS BIGINT) AS n_dest
       |  FROM edges GROUP BY 1),
       |terms AS (SELECT e.src, c.cs, c.n_dest,
       |    e.n * (CAST(floor(ln(CAST(c.cs AS DOUBLE)) * 1e6 + 0.5)
       |             AS BIGINT)
       |         - CAST(floor(ln(CAST(e.n AS DOUBLE)) * 1e6 + 0.5)
       |             AS BIGINT)) AS term
       |  FROM edges e JOIN cs c ON c.src = e.src),
       |per_state AS (SELECT src AS from_type,
       |    max(cs) AS n_trans, max(n_dest) AS n_dest,
       |    CAST(sum(term) AS BIGINT) // max(cs) AS h_cond_micro
       |  FROM terms GROUP BY src),
       |ctot AS (SELECT CAST(sum(n) AS BIGINT) AS ctot FROM edges)
       |SELECT from_type, n_trans, n_dest, h_cond_micro FROM per_state
       |UNION ALL
       |SELECT '_overall', ctot, CAST(NULL AS BIGINT),
       |  (SELECT CAST(sum(term) AS BIGINT) FROM terms) // ctot
       |FROM ctot
       |ORDER BY from_type""".stripMargin
}
