package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.sources.Tables
import graft.stg.Staging
import graft.util.Scratch

import graft.syntax._

/** Structured Streaming surface of the engine (SURVEY.md §7 extension —
  * the reference is batch-only, so this is the scale-native upgrade of
  * its scheduled-rerun model): the same tumbling-window aggregation as
  * [[graft.operators.EventOps.q30EventsTumbling]], expressed as
  * `readStream → watermark → windowed agg → memory sink`.
  *
  * Scale notes: event-time windows + watermark bound state size; the
  * aggregation state lives in the state store keyed by
  * (window, event_type) — at 1000 executors this partitions by the
  * group key exactly like the batch shuffle. `availableNow` trigger
  * drains the backlog and stops, which is also how the batch-parity
  * test works locally.
  */
object EventStream {

  /** Checkpoint base dir, overridable via SPARK_GRAFT_CKPT_BASE (e.g.
    * /dev/shm to measure a tmpfs store): every streaming query's
    * run-private checkpoint lives under it and is deleted after the
    * drain. Default /tmp — measured within noise of tmpfs at the bench
    * scale (see BASELINE.md round-12 note), kept for the larger free
    * space and to avoid shm pressure beside the 128 GiB heap. */
  private def ckptDir(name: String): String =
    s"${sys.env.getOrElse("SPARK_GRAFT_CKPT_BASE", "/tmp")}/graft_ckpt_$name"

  /** Post-drain teardown: delete the run-private checkpoint AND unload
    * the terminated query's state-store providers. Every stream here
    * drains exactly once against a unique checkpoint, so a provider
    * left in `StateStore.loadedProviders` after termination is pure
    * dead weight — and a complete-mode aggregation's providers hold
    * the full keyed state ON-HEAP (q264: one counter per (day, user);
    * measured at the 100× decade polluting in-band successors — q289
    * ran 92 s in-band after q264 vs 10.1 s solo). `deleteDir = false`
    * keeps a caller-pinned checkpoint for restart-path queries; the
    * unload is still correct there (a restarted query reloads
    * providers from the checkpoint files). */
  private def dropStreamScaffolding(ckpt: String, deleteDir: Boolean): Unit = {
    val t0 = System.nanoTime()
    org.apache.spark.sql.graftbridge.Bridge.unloadStateStores()
    val t1 = System.nanoTime()
    if (deleteDir) {
      new scala.reflect.io.Directory(new java.io.File(ckpt)).deleteRecursively()
      ()
    }
    val t2 = System.nanoTime()
    System.err.println(f"[stream] teardown unload=${(t1 - t0) / 1e6}%.0fms " +
      f"delete=${(t2 - t1) / 1e6}%.0fms $ckpt")
  }

  /** The one stream drain: runs `stream` under a unique query name
    * (`tag` + a UUID) with the availableNow trigger, which processes
    * the backlog and stops, then tears down (even when the query
    * fails, so repeated runs leave no checkpoints behind). `sink`
    * completes the writer: a memory format or a foreachBatch. The
    * checkpoint is run-private under [[ckptDir]] and deleted, unless
    * the caller pins `ckpt`, which is kept for a later restart.
    * Returns the query name, which is a memory sink's table name. */
  private def drain(stream: DataFrame, tag: String, mode: String,
      ckpt: Option[String] = None)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): String = {
    val name = tag + "_" + UUID.randomUUID().toString.replace("-", "")
    val dir = ckpt.getOrElse(ckptDir(name))
    val q = sink(stream.writeStream
      .outputMode(mode)
      .queryName(name)
      .option("checkpointLocation", dir)
      .trigger(Trigger.AvailableNow()))
      .start()
    try q.awaitTermination()
    finally dropStreamScaffolding(dir, deleteDir = ckpt.isEmpty)
    name
  }

  /** A stream-private session: shares the SparkContext (same executors,
    * same caches) but carries its own SQLConf, so a stream's narrow
    * state-store shuffle width is scoped to the streaming query instead
    * of mutating the caller's session, where the async micro-batch
    * planner would race any concurrent query. `newSession()` inherits
    * the context-level defaults (timezone, AQE) from the SparkConf; the
    * two confs the streams need are set explicitly. */
  private def streamSession(spark: SparkSession, shufflePartitions: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    s.conf.set("spark.sql.session.timeZone",
      spark.conf.get("spark.sql.session.timeZone", "UTC"))
    s
  }

  /** Run the streaming tumbling aggregation over the parquet events dir
    * until all available data is processed, then return the result as a
    * batch DataFrame (from the in-memory sink). Output matches
    * `EventOps.q30EventsTumbling` row-for-row. */
  def tumblingCounts(spark: SparkSession, sfDir: String): DataFrame = {
    // stream-scoped shuffle width: each state-store partition carries
    // fixed open/commit overhead per micro-batch, which dominates at
    // local scale — 8 partitions instead of the session's 32 roughly
    // halves the wall-clock with identical results. (A real cluster
    // deployment would size this to the key cardinality instead.)
    val ss = streamSession(spark, 8)
    val stream = rawEvents(ss, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(
        window($"ts", "1 hour").as("win"),
        $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        graft.operators.Relational.moneySum($"value").as("sum_value"),
        approx_count_distinct($"user_id").as("approx_users"))
    val name = drain(stream, "evt", "complete")(_.format("memory"))
    ss.table(name)
      .select(
        date_format($"win.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        $"event_type", $"n_events", $"sum_value", $"approx_users")
      .orderBy($"window_start", $"event_type")
  }

  /** Sliding (hopping) windows on the stream — the streaming twin of
    * the batch q73: 1-hour windows every 30 minutes, each event
    * contributing to exactly two open windows. Watermark semantics are
    * identical to [[tumblingCounts]]; state holds size/slide window
    * entries per key instead of one, which is the memory trade sliding
    * windows make at any scale. */
  def slidingCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(spark, 8)
    val stream = rawEvents(ss, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(
        window($"ts", "1 hour", "30 minutes").as("win"),
        $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        graft.operators.Relational.moneySum($"value").as("sum_value"))
    val name = drain(stream, "evs", "complete")(_.format("memory"))
    ss.table(name)
      .select(
        date_format($"win.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        $"event_type", $"n_events", $"sum_value")
      .orderBy($"window_start", $"event_type")
  }

  /** Packed (whole-second, event_id) order key for streaming argmin /
    * argmax picks (README rule 9: ONE integer min — never struct
    * ordering). The seconds component is WINDOW-RELATIVE: the picks
    * run inside epoch-aligned 1-hour window groups, so within any
    * group `ts_sec % 3600` = `ts_sec − win_start` and ordering by
    * (rel_sec, event_id) ≡ ordering by (ts_sec, event_id) — identical
    * picks, but the seconds need only 12 bits instead of 31, leaving
    * event_id 51 bits (≈2.3·10¹⁵ — a genuine 100 TB tick-archive
    * bound; an absolute-seconds split would cap ids at 2²⁴ ≈ 16.8 M,
    * a ceiling the 10× event ids (~2·10⁷) and any year of real ingest
    * cross). The bound is enforced LOUDLY per row: an over-bound id
    * would silently order as a tick one second later.
    * pmod, not %: Spark's % keeps the dividend's sign, so a pre-epoch
    * timestamp (negative seconds) would yield a negative remainder
    * that silently inverts ordering inside its window (in the
    * 1969-12-31 23:00 window, ts=-3600 packs as 0 while ts=-1 packs
    * as -1); pmod keeps the relative-seconds component in [0, 3600)
    * for every epoch. */
  private def packedTickKey = {
    val guarded = when($"event_id" >= lit(1L << 51),
      raise_error(concat(
        lit("packedTickKey: event_id exceeds the 51-bit pack bound: "),
        $"event_id"))).otherwise($"event_id")
    (pmod($"ts".cast("long"), lit(3600L)) * lit(1L << 51)) + guarded
  }

  /** Streaming OHLC bar builder — the STREAMING twin of the batch
    * resampler [[graft.operators.EventOps.q186OhlcBars]], and how a
    * live tick feed actually becomes the reference's OHLCV input:
    * watermarked hourly windows where open/close are `min_by`/`max_by`
    * picks on the [[packedTickKey]] — the pick runs INSIDE the
    * windowed aggregate's merge (a running (key, value) pair per
    * window, no sort, no per-tick state), so state is bar-grain at any
    * tick rate. The driver hashes its output against the SAME DuckDB
    * mirror as batch q186 — stream ≡ batch parity as a driver-checked
    * oracle row, not just a spec. Memory sink is legal here: the
    * output is the bounded bar-grain aggregate (hours × instruments),
    * never row-grain. */
  def q187StreamOhlc(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(spark, 8)
    val stream = rawEvents(ss, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour").as("win"), $"event_type")
      .agg(
        min_by($"value", packedTickKey).as("open"),
        max($"value").as("high"),
        min($"value").as("low"),
        max_by($"value", packedTickKey).as("close"),
        count(lit(1)).as("n_ticks"),
        graft.operators.Relational.moneySum($"value").as("volume"))
    val name = drain(stream, "evo", "complete")(_.format("memory"))
    ss.table(name)
      .select($"event_type",
        date_format($"win.start", "yyyy-MM-dd HH:00").as("bar"),
        $"open", $"high", $"low", $"close", $"n_ticks", $"volume")
      .orderBy($"event_type", $"bar")
  }

  /** q172: [[slidingCounts]] driver-oracled — the FIFTH oracled
    * streaming surface (q33 tumbling, q131 sessions, q150 enrich,
    * q158 interval join, q159 upsert, q165 dedup, this). Valid as an
    * oracle because complete mode over the driver's single-file corpus
    * emits every window exhaustively; the mirror enumerates each
    * event's exactly-two hopping windows by 30-minute epoch-grid
    * truncation (Spark's `window(ts, 1h, 30m)` start set for
    * epoch-aligned slides) via integer microsecond arithmetic — no
    * timezone-carrying conversions on either side (README temporal-key
    * rule; `make_timestamp(µs)` is naive like the session-UTC
    * `date_format`). */
  val q172StreamSlidingSql: String =
    s"""WITH e AS (SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000)
       |             * 1800000000 AS w_us, event_type, value FROM events),
       |w AS (SELECT w_us, event_type, value FROM e
       |      UNION ALL
       |      SELECT w_us - 1800000000 AS w_us, event_type, value FROM e)
       |SELECT strftime(make_timestamp(w_us), '%Y-%m-%d %H:%M:%S')
       |    AS window_start,
       |  event_type, count(*) AS n_events,
       |  ${graft.operators.Relational.sqlMoneySum("value")} AS sum_value
       |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Streaming dedup: `dropDuplicatesWithinWatermark` on the event id —
    * the streaming twin of the exact-dedup batch operator, with the
    * bounded-state trade every streaming dedup makes: duplicates
    * arriving WITHIN the late-arrival window are dropped exactly;
    * a duplicate arriving after its original's state was evicted (>1h
    * later in event time) survives. The watermark variant is what
    * actually bounds state: plain `dropDuplicates("event_id")` never
    * evicts (Spark only prunes dedup state when the event-time column
    * is among the keys), whereas within-watermark eviction caps memory
    * at the late-arrival window — not the stream length — at any
    * scale. Returns the deduped count. */
  def dedupCount(spark: SparkSession, sfDir: String): Long = {
    val counted = rawEvents(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy()
      .count()
    val name = drain(counted, "dedup", "complete")(_.format("memory"))
    spark.table(name).head().getLong(0)
  }

  /** Stateful per-key processing via `mapGroupsWithState`
    * (`KeyValueGroupedDataset`, SURVEY.md §7's custom-state slot):
    * running per-user event count + last-seen second kept in the state
    * store. Output (update mode): one row per user per micro-batch with
    * the accumulated state. */
  case class UserState(n: Long, lastSec: Long)

  def statefulUserCounts(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val stream = rawEvents(spark, sfDir)
      .select(col("user_id"), col("ts").cast("long").as("sec"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0L))
          var n = prev.n
          var last = prev.lastSec
          rows.foreach { case (_, sec) => n += 1; if (sec > last) last = sec }
          state.update(UserState(n, last))
          (user, n, last)
      }
      .toDF("user_id", "n_events", "last_sec")
    val stored = drainToParquet(stream, "state", mode = "update")
    // last update per user = final state
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_events").desc)
    stored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** q174: [[statefulUserCounts]] driver-oracled — the custom-state
    * `mapGroupsWithState` surface (SURVEY §7's stateful slot) checked
    * against the batch census it must converge to: after the
    * executor-side parquet drain, each user's FINAL state row (max
    * n_events per user — the counter is strictly increasing across
    * updates) must equal `GROUP BY user_id` over the whole corpus.
    * Valid at any micro-batch split, not just the driver's single-file
    * one: the final state is batch-count-invariant by construction.
    * Second truncation both sides (README temporal-key rule): Spark
    * `CAST(ts AS LONG)` floors to epoch seconds, the mirror floors
    * `epoch(ts)` (the q131-proven form). */
  val q174StreamStatefulSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  CAST(max(floor(epoch(ts))) AS BIGINT) AS last_sec
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q176: the BUILT-IN `session_window` gap aggregation — the
    * declarative sibling of [[sessionizeStream]]'s hand-rolled
    * `flatMapGroupsWithState` sessionizer (q131), closing the last
    * streaming operator class without an oracle row. Complete mode
    * (session windows reject update; Spark 4 `STREAMING_OUTPUT_MODE`)
    * over the driver's single-file corpus emits each merged session
    * exactly once with its final extent, so unlike q131 the oracle
    * covers EVERY session including each user's last. All arithmetic
    * at the exact microsecond grain (`unix_micros` ↔ `epoch_us`; the
    * testdata is ms-grain, so ns→µs truncation is exact): a session's
    * end is last event + gap, and two events split iff their gap
    * STRICTLY exceeds 30 min — Spark merges `next.start <= prev.end`,
    * i.e. an exactly-gap follower extends the session (pinned by the
    * crafted StreamingSpec boundary case: a `>=` mirror agrees on the
    * real corpus and still mismatches there). Scale:
    * complete mode is the oracle harness, not the deployment shape — a
    * production run uses append mode, where the same per-(user, open
    * session) state is watermark-evicted and closed sessions stream
    * out; q131's closed-session exclusion proves that arm. The drain
    * is executor-side parquet (row-grain output class, never a memory
    * sink), one snapshot batch on the one-batch corpus. */
  def q176SessionWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(spark, 8)
    val stream = rawEvents(ss, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_micros($"w.start").as("start_us"),
        unix_micros($"w.end").as("end_us"), $"n_events")
    drainToParquet(stream, "sesswin", mode = "complete")
      .orderBy($"user_id", $"start_us")
  }

  val q176SessionWindowSql: String =
    """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |b AS (SELECT user_id, us,
      |    CASE WHEN lag(us) OVER w IS NULL
      |      OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END
      |      AS boundary
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      |sess AS (SELECT user_id, us,
      |    sum(boundary) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS UNBOUNDED PRECEDING) AS seq
      |  FROM b),
      |agg AS (SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
      |    CAST(max(us) + 1800000000 AS BIGINT) AS end_us,
      |    CAST(count(*) AS BIGINT) AS n_events
      |  FROM sess GROUP BY user_id, seq)
      |SELECT user_id, start_us, end_us, n_events
      |FROM agg ORDER BY user_id, start_us""".stripMargin

  /** Drain a (possibly row-grain) stream through a foreachBatch →
    * run-private parquet store and return the store as a batch
    * DataFrame — the scale-safe alternative to a `memory` sink for any
    * stream whose output is NOT a bounded-cardinality aggregate:
    * executors append each micro-batch directly, no row ever rides the
    * driver. `memory` sinks remain only on the aggregated
    * complete/1-row surfaces, ratcheted in ScaleSpec. The store is a
    * [[Scratch]] directory, deleted at JVM exit rather than after the
    * drain: the returned DataFrame reads it LAZILY, so any earlier
    * delete races the consumer. If the stream emitted zero batches the
    * store may not exist — callers' streams here always see ≥1
    * micro-batch, and the batch write lays the schema down even when a
    * batch has 0 rows. */
  private def drainToParquet(stream: DataFrame, tag: String,
      mode: String = "append"): DataFrame = {
    val store = Scratch.uniqueDir("stream_store")
    drain(stream, tag, mode)(_.foreachBatch { (batch: DataFrame, _: Long) =>
      batch.write.mode("append").parquet(store)
      ()
    })
    stream.sparkSession.read.parquet(store)
  }

  /** Open-session state carried across micro-batches. */
  case class SessionAcc(start: Long, last: Long, n: Long)

  /** Streaming gap-based sessionization via `flatMapGroupsWithState` —
    * the streaming twin of the batch [[graft.operators.EventOps
    * .sessionize]] operator. Per user, CLOSED sessions are emitted as
    * soon as a later event proves the gap; the single open session rides
    * in the state store, so state is O(1) per active user (one
    * `SessionAcc`) — never the event history. Each user's final,
    * still-open session is by construction never emitted (nothing ever
    * closes it); StreamingSpec asserts closed-session parity with the
    * batch formulation minus exactly those.
    *
    * Events inside one micro-batch arrive unordered, so the group
    * iterator is sorted in memory per batch — bounded by a user's
    * per-batch volume, the same bound the state-store shuffle already
    * implies. Returns (user_id, start_s, end_s, n_events). */
  def sessionizeStream(spark: SparkSession, sfDir: String,
      gapSec: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ss = streamSession(spark, 8)
    val stream = rawEvents(ss, sfDir)
      .select(col("user_id"), col("ts").cast("long").as("sec"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionAcc, (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[SessionAcc]) =>
          val secs = rows.map(_._2).toArray
          java.util.Arrays.sort(secs)
          val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
          var acc = state.getOption
          secs.foreach { sec =>
            acc = acc match {
              // cross-batch stragglers: an event older than the open
              // session but within the gap extends it BACKWARD (start
              // moves down); one beyond the gap on either side closes
              // the open session. A real deployment would buffer late
              // data under a watermark instead — this operator's
              // contract is parity with batch sessionize for
              // per-user-time-ordered batch delivery (the spec's case).
              case Some(SessionAcc(st, la, k))
                  if sec - la <= gapSec && st - sec <= gapSec =>
                Some(SessionAcc(math.min(st, sec), math.max(la, sec), k + 1))
              case Some(SessionAcc(st, la, k)) =>
                out += ((user, st, la, k))
                Some(SessionAcc(sec, sec, 1L))
              case None =>
                Some(SessionAcc(sec, sec, 1L))
            }
          }
          acc.foreach(state.update)
          out.iterator
      }
      .toDF("user_id", "start_s", "end_s", "n_events")
    drainToParquet(stream, "sess")
      .orderBy(col("user_id"), col("start_s"))
  }

  /** Watermarked STREAM-STREAM interval join — the streaming twin of
    * the batch binned range join ([[graft.operators.EventOps
    * .q38RangeJoin]]): clicks ⋈ purchases per user within ±1 hour of
    * event time. Both sides carry a watermark and the join condition
    * bounds `purchase_ts` to a window around `click_ts` — together
    * those let the state store evict a row once the other stream's
    * watermark passes its match window, so join state is O(events in
    * the late+range window), not O(stream length) — the property that
    * makes the operator runnable on an unbounded stream. Inner join:
    * matches emit as soon as both sides arrive (no watermark hold).
    *
    * StreamingSpec asserts row-set equality with the batch q38 result
    * on ordered finite input. */
  def rangeJoinStream(spark: SparkSession, sfDir: String): DataFrame = {
    // 8 state-store partitions, stream-scoped: a stream-stream join
    // keeps TWO keyed state stores per partition, so the per-partition
    // open/commit overhead bites twice — at local scale the narrow
    // width matters even more than for the aggregations above
    val ss = streamSession(spark, 8)
    // timestamps are truncated to WHOLE SECONDS before the join so the
    // ±1h bound matches the batch twin's floor-second gap arithmetic
    // exactly (README determinism rule: temporal join keys at second
    // grain) — with raw micro-precision, a pair whose real gap is in
    // (3600s, 3601s) but truncated gap exactly 3600 would be included
    // by batch yet excluded here
    val clicks = rawEvents(ss, sfDir)
      .filter($"event_type" === "click")
      .select($"user_id", date_trunc("second", $"ts").as("click_ts"), $"event_id")
      .withWatermark("click_ts", "1 hour")
    val purchases = rawEvents(ss, sfDir)
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user_id"),
        date_trunc("second", $"ts").as("purchase_ts"),
        $"event_id".as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks
      .join(purchases,
        $"user_id" === $"p_user_id" &&
          $"purchase_ts" >= $"click_ts" - expr("INTERVAL 1 HOUR") &&
          $"purchase_ts" <= $"click_ts" + expr("INTERVAL 1 HOUR"))
      .select($"user_id", $"event_id", $"purchase_id",
        ($"purchase_ts".cast("long") - $"click_ts".cast("long")).as("gap_s"))
    drainToParquet(joined, "ssj")
      .orderBy($"user_id", $"event_id", $"purchase_id")
  }

  /** Stream-STATIC enrichment join — the remaining Structured Streaming
    * join surface beside [[rangeJoinStream]]'s stream-stream form: the
    * event stream joined to a static batch dimension (customer segment),
    * then aggregated per (segment, event_type) in complete mode. The
    * static side needs no watermark and no state — Spark re-plans it as
    * an ordinary broadcast-hash join inside every micro-batch, which is
    * exactly the 1000-executor shape: the dim broadcasts once per batch,
    * the stream side never shuffles before the join. This is the
    * enrich-on-ingest pattern (fact stream + slowly-read dims) every
    * streaming warehouse front-door runs. */
  def streamStaticEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(spark, 8)
    val dim = broadcast(Tables.customer(ss, sfDir)
      .select($"c_custkey", $"c_mktsegment"))
    val stream = rawEvents(ss, sfDir)
      .join(dim, $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment", $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        graft.operators.Relational.moneySum($"value").as("sum_value"))
    val name = drain(stream, "enr", "complete")(_.format("memory"))
    ss.table(name)
      .select($"c_mktsegment", $"event_type", $"n_events", $"sum_value")
      .orderBy($"c_mktsegment", $"event_type")
  }

  /** Driver-oracled wrapper for [[streamStaticEnrich]] — the THIRD
    * oracled streaming query (q33 tumbling, q131 sessionization, this).
    * Valid as an oracle because the availableNow drain processes every
    * event exactly once and the aggregation is over exact-grid values
    * (moneySum cents), so the streamed result equals the batch join
    * bit-for-bit. */
  def q150StreamEnrich(spark: SparkSession, sfDir: String): DataFrame =
    streamStaticEnrich(spark, sfDir)

  val q150StreamEnrichSql: String =
    """SELECT c_mktsegment, event_type, count(*) AS n_events,
      |  sum(floor(value * 100.0 + 0.5)) / 100.0 AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Streaming-upsert sink — the lakehouse front-door pattern:
    * `readStream → foreachBatch(upsert by natural key) → parquet
    * store`. Structured Streaming guarantees each micro-batch is
    * delivered to `foreachBatch` at-least-once with a stable batchId;
    * composing it with the IDEMPOTENT [[graft.stg.Staging
    * .upsertByNaturalKey]] (upsert twice == once, the J4 property) is
    * what upgrades that to effectively-once on the stored table — the
    * same recipe every Delta/Iceberg `MERGE`-from-stream runs, with the
    * store swap playing the commit. Per batch the target is read,
    * anti-joined on the key, and atomically swapped (write-new → rename,
    * [[graft.stg.Staging.publishStore]]). Returns the final
    * store as a DataFrame.
    *
    * Scale notes: the anti-join shuffles on the natural key exactly
    * like the batch upsert; at a 1000-executor deployment the store
    * would be a table format with MERGE instead of a directory swap,
    * but the operator shape (idempotent key-upsert per micro-batch) is
    * identical. */
  def streamUpsertSink(spark: SparkSession, sfDir: String,
      storePath: String): DataFrame = {
    val events = rawEvents(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    drain(events, "ups", "append")(_.foreachBatch {
      (batch: DataFrame, _: Long) =>
        // a corrupt store fails the batch rather than reading as empty:
        // Staging.readStore recovers only a crash inside the publish
        // window
        val target = Staging.readStore(spark, storePath, "upsert sink")
          .getOrElse(batch.limit(0))
        Staging.publishStore(
          Staging.upsertByNaturalKey(target, batch, Seq("event_id")),
          storePath, "upsert sink")
    })
    spark.read.parquet(storePath)
  }

  /** The ns-safe raw event stream (shared by the streaming operators).
    *
    * readStream needs an explicit schema, and the physical `ts` type has
    * shipped in two forms across testdata generations (INT64 NANOS read
    * as LONG under the legacy conf, or TIMESTAMP(MICROS) read as NTZ) —
    * so sniff the footer of the batch reader once and declare the stream
    * schema to match, normalizing to a micros TimestampType either way
    * (see Tables.events for the full story). */
  private def rawEvents(spark: SparkSession, sfDir: String) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.types._
    val physical = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream
      .schema(physical)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    physical("ts").dataType match {
      case LongType =>
        // integer division — see Tables.events
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        stream.withColumn("ts", col("ts").cast(TimestampType))
      case _ => stream
    }
  }

  // ---------------------------------------------------------------
  // q131: driver-oracled streaming sessionization
  // ---------------------------------------------------------------

  /** Gap for the oracled sessionization run — matches the batch q31's
    * `EventOps.SessionGapSec`. */
  private val StreamGapSec = 1800L

  /** The second driver-oracled STREAMING query (beside q33's tumbling
    * aggregation): [[sessionizeStream]]'s flatMapGroupsWithState run
    * over the events parquet with the availableNow trigger, hash-
    * checked against a pure-SQL DuckDB sessionization. The stream emits
    * CLOSED sessions only (each user's final session stays open in the
    * state store forever), so the oracle excludes every user's last
    * session — the exclusion is itself part of the proven semantics.
    * Valid because the driver's events table is a single parquet file
    * (one micro-batch ⇒ the per-user sort inside the state function
    * sees the whole history); the general multi-batch out-of-order
    * contract is StreamingSpec's subject, not this oracle's. */
  def q131StreamSessions(spark: SparkSession, sfDir: String): DataFrame =
    sessionizeStream(spark, sfDir, StreamGapSec)

  val q131StreamSessionsSql: String =
    s"""WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
       |  FROM events),
       |b AS (SELECT user_id, s,
       |    CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w
       |      > $StreamGapSec THEN 1 ELSE 0 END AS boundary
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s)),
       |sess AS (SELECT user_id, s,
       |    sum(boundary) OVER (PARTITION BY user_id ORDER BY s
       |      ROWS UNBOUNDED PRECEDING) AS seq
       |  FROM b),
       |agg AS (SELECT user_id, seq, min(s) AS start_s, max(s) AS end_s,
       |    count(*) AS n_events
       |  FROM sess GROUP BY 1, 2),
       |mx AS (SELECT user_id, max(seq) AS mseq FROM agg GROUP BY 1)
       |SELECT a.user_id, a.start_s, a.end_s,
       |  CAST(a.n_events AS BIGINT) AS n_events
       |FROM agg a JOIN mx USING (user_id)
       |WHERE a.seq < mx.mseq
       |ORDER BY a.user_id, a.start_s""".stripMargin

  // ---------------------------------------------------------------
  // q158: driver-oracled stream-stream interval join
  // ---------------------------------------------------------------

  /** The FOURTH driver-oracled streaming query (q33 tumbling, q131
    * sessionization, q150 enrich, this): [[rangeJoinStream]]'s
    * watermarked stream-stream interval join drained with availableNow,
    * hash-checked against the pure-SQL batch interval join (the same
    * oracle family as the batch q38). Valid because the driver's events
    * table is one parquet file — a single micro-batch, so both sides'
    * state stores hold the full finite history when the join runs and
    * inner-join matches are emitted exhaustively; the multi-batch
    * eviction contract is StreamingSpec's subject. Both engines truncate
    * timestamps to whole seconds before the ±1h test (README temporal-
    * key rule), so the pair sets agree exactly. */
  def q158StreamRangeJoin(spark: SparkSession, sfDir: String): DataFrame =
    rangeJoinStream(spark, sfDir)

  val q158StreamRangeJoinSql: String =
    """WITH c AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS click_s,
      |             event_id
      |      FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS purchase_s,
      |             event_id AS purchase_id
      |      FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, c.event_id, p.purchase_id,
      |  p.purchase_s - c.click_s AS gap_s
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND abs(c.click_s - p.purchase_s) <= 3600
      |ORDER BY c.user_id, c.event_id, p.purchase_id""".stripMargin

  // ---------------------------------------------------------------
  // q159: driver-oracled foreachBatch upsert sink
  // ---------------------------------------------------------------

  /** The FIFTH driver-oracled streaming surface: the events stream
    * drained through [[streamUpsertSink]] into a run-private parquet
    * store — TWICE, with independent checkpoints, so the second drain
    * re-delivers every event and the result proves rerun-is-a-no-op
    * (upsert-twice == once, the reference's E1 contract under streaming
    * delivery). Because event_ids are unique, upsert-once is the
    * identity on the events table, so the oracle is a plain SELECT —
    * a driver hash on the at-least-once→effectively-once upgrade.
    * Output is projected to the deterministic grid (epoch seconds,
    * integer cents — README rules) and ordered by the natural key. */
  def q159StreamUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    // exit-time reclamation like the drainToParquet stores (the sink's
    // .new/.bak siblings are transient — gone by publish time)
    val store = Scratch.uniqueDir("upsert_store")
    streamUpsertSink(spark, sfDir, store)
    val stored = streamUpsertSink(spark, sfDir, store)
    stored.select(
      $"event_id",
      $"ts".cast("long").as("ts_s"),
      $"user_id", $"event_type",
      floor($"value" * 100.0 + 0.5).cast("long").as("value_cents"))
      .orderBy($"event_id")
  }

  val q159StreamUpsertSql: String =
    """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
      |  user_id, event_type,
      |  CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS value_cents
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------
  // q165: driver-oracled within-watermark streaming dedup
  // ---------------------------------------------------------------

  /** The SIXTH driver-oracled streaming surface — the last stateful
    * operator class without a driver hash: `dropDuplicatesWithinWatermark`
    * drained with availableNow (append mode; dedup emits rows
    * immediately, so the drain delivers every survivor), then a batch
    * census by event type over the sink. The driver's event_ids are
    * UNIQUE, so dedup is the identity and the oracle is the plain
    * batch census — making the green hash a proof the operator drops
    * NOTHING it shouldn't while its drop-the-duplicate semantics stay
    * owned by StreamingSpec's crafted-duplicate cases. If a future
    * corpus gains duplicate ids this row goes red loudly (and the
    * StreamingSpec precondition case diagnoses why). Grid rules: count
    * + integer-cent sums only.
    *
    * Scale shape: the deduped stream drains via foreachBatch into a
    * run-private parquet store (executor-side appends, like q159's
    * sink) and the census aggregates THAT — no row of the event stream
    * ever touches the driver; ScaleSpec's sink ratchet counts memory
    * sinks so a driver-side drain of the deduped corpus can't
    * silently appear. */
  def q165StreamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(spark, 8)
    val deduped = rawEvents(ss, sfDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select($"event_id", $"event_type", $"value")
    drainToParquet(deduped, "dedupq")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Relational.moneySum($"value").as("sum_value"))
      .orderBy($"event_type")
  }

  val q165StreamDedupSql: String =
    s"""SELECT event_type, count(*) AS n_events,
       |  ${graft.operators.Relational.sqlMoneySum("value")} AS sum_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q260: streaming near-dup front door — ingest-time dedup lookup
  // ---------------------------------------------------------------

  /** The ingest-time shape of the dedup story: a stream of incoming
    * documents labeled against the STAGED q50 near-dup clusters —
    * every arriving doc gets its canonical representative and a
    * keep/drop action, exactly what a production pipeline's front door
    * runs before admitting a document to the training corpus.
    * Composes [[streamStaticEnrich]]'s stream-static
    * join pattern with [[graft.operators.TextOps.q50DedupClusters]]'s
    * materialized-once cluster relation.
    *
    * Semantics: LEFT join — a doc with no near-dup cluster is its own
    * canonical (cluster_size 1, action keep); a clustered doc keeps
    * only if it IS the cluster minimum (the q52 survivor policy).
    *
    * Scale shape: the static side is DOC-GRAIN (one row per clustered
    * doc), so it is deliberately NOT hand-broadcast — at 100 TB the
    * dedup index does not fit an executor; Spark re-plans the join per
    * micro-batch and AQE picks the join strategy from the measured
    * static-side size (at a 1000-executor deployment this side would
    * be a bucketed table co-partitioned with the ingest key). The
    * stream side is row-grain, so it drains via [[drainToParquet]]
    * (executor-side appends), never a memory sink. No watermark: the
    * join is stateless per micro-batch (static side needs no state).
    *
    * Oracle: the stream processes every doc exactly once
    * (availableNow) and the join is deterministic, so the result
    * equals the batch twin [[q260BatchTwin]] bit-for-bit; the DuckDB
    * mirror recomputes the clusters via the q50 recursive CTE.
    * StreamingSpec asserts stream ≡ batch twin on the same corpus
    * (the q186/q187 lockstep discipline). */
  def q260StreamDedupLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(spark, 8)
    val clusters = graft.operators.TextOps.q50DedupClusters(ss, sfDir)
      .select($"doc_id".as("c_doc_id"), $"canonical_id", $"cluster_size")
    val schema = ss.read
      .parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"lang", $"source", $"n_chars").schema
    val stream = ss.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .select($"doc_id", $"lang", $"source", $"n_chars")
    drainToParquet(dedupLookup(stream, clusters), "sdl")
      .orderBy($"doc_id")
  }

  /** Batch twin of [[q260StreamDedupLookup]] — identical transform over
    * the batch reader; StreamingSpec asserts lockstep equality. */
  def q260BatchTwin(spark: SparkSession, sfDir: String): DataFrame =
    dedupLookup(
      Tables.documents(spark, sfDir)
        .select($"doc_id", $"lang", $"source", $"n_chars"),
      graft.operators.TextOps.q50DedupClusters(spark, sfDir)
        .select($"doc_id".as("c_doc_id"), $"canonical_id", $"cluster_size"))
      .orderBy($"doc_id")

  // ---------------------------------------------------------------
  // q275's production front door: streaming LSH stage APPEND
  // ---------------------------------------------------------------

  /** The streaming composition of the q260 front door with q275's
    * incremental LSH maintenance — the production ingest shape: delta
    * documents arrive as a stream (here the newest tenth of the corpus
    * via a stream-static cut join, the q150 broadcast-enrich idiom),
    * and each micro-batch EXTENDS the staged band/pair index through
    * `foreachBatch` — bands of the batch append to the band store, the
    * batch's new-involving verified pairs append to the pair store;
    * nothing is ever rebuilt. Returns the maintained pair relation
    * (staged old pairs ∪ appended), which StreamingSpec pins
    * row-for-row against the FULL-REBUILD `lshPairs` over the whole
    * corpus — the stream-arrival twin of q275's oracle row.
    *
    * The append lemma needs MONOTONE ingest (batch ids above every
    * indexed id — true of any id-assigning ingest front door); the
    * sink guards it LOUDLY per batch instead of producing silently
    * wrong pairs. State: NONE in the stream itself (the window-free
    * front door) — the index lives in the store, so a restart resumes
    * from the checkpoint with the store intact. */
  def incrementalLshStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.TextOps
    val ss = streamSession(spark, 8)
    val docsStatic = Tables.documents(ss, sfDir)
    val cutDf = TextOps.incCutDf(docsStatic)
    val stagedBands = TextOps.incBandsStaged(ss, sfDir)
    val stagedPairs = TextOps.incPairsStaged(ss, sfDir)
    val store = graft.util.Scratch.freshDir("inc_lsh_stream", sfDir)
    val bandsDir = s"$store/bands"
    val pairsDir = s"$store/pairs"
    val schema = ss.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = ss.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .join(broadcast(cutDf), $"doc_id" >= $"cut")
      .drop("cut")
    // the monotone-ingest high-water mark starts at the indexed corpus
    val seed = cutDf.head().getLong(0) - 1L
    val maxSeen = new java.util.concurrent.atomic.AtomicLong(seed)
    drain(stream, "ilsh", "append")(_.foreachBatch {
      (batch: DataFrame, _: Long) =>
        val bounds = batch.agg(min($"doc_id"), max($"doc_id")).head()
        if (!bounds.isNullAt(0)) {
          require(bounds.getLong(0) > maxSeen.get(),
            s"incrementalLshStream: non-monotone ingest batch " +
              s"[${bounds.getLong(0)}] under high-water ${maxSeen.get()} " +
              "— the append lemma does not hold, refusing to corrupt the index")
          val bandsSoFar =
            if (new java.io.File(bandsDir).exists())
              stagedBands.unionByName(batch.sparkSession.read.parquet(bandsDir))
            else stagedBands
          TextOps.incNewPairs(bandsSoFar, batch, docsStatic)
            .write.mode("append").parquet(pairsDir)
          TextOps.bandsOf(batch).write.mode("append").parquet(bandsDir)
          maxSeen.set(bounds.getLong(1))
        }
    })
    val appended =
      if (new java.io.File(pairsDir).exists())
        stagedPairs.unionByName(ss.read.parquet(pairsDir))
      else stagedPairs
    appended.orderBy($"d1", $"d2")
  }

  // ---------------------------------------------------------------
  // q264: streaming heavy hitters — per-day top-k users
  // ---------------------------------------------------------------

  /** Heavy-hitter cut: the per-window leaderboard depth. */
  private[graft] val HhTopK = 3L

  /** Streaming heavy-hitter detection — the TWELFTH oracled streaming
    * surface: per tumbling day window, the top-[[HhTopK]] users by
    * event count (the abuse/monitoring question every ingest pipeline
    * asks of its stream: who dominates today's traffic?). The
    * STREAMING layer is the watermarked tumbling count aggregate at
    * (day, user) grain — state is one counter per live (window, user),
    * the same bounded class as q174's per-key state; the LEADERBOARD
    * layer (rank + cut) runs over the drained aggregate, a
    * |days|×|active users| relation (30×1500 here). At a deployment
    * where the per-window user set itself is too wide, the aggregate
    * grain is unchanged and the leaderboard swaps in the q89
    * count-min + candidate-probe shape — the windowed agg below is
    * the part that must stream.
    *
    * Determinism: tumbling windows are epoch-aligned (the q172 µs
    * truncation identity); the rank's ORDER BY carries the unique
    * (count desc, user_id) tie-break (README rule: every window
    * ORDER BY totally ordered). */
  def q264StreamHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(spark, 8)
    val stream = rawEvents(ss, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 day").as("win"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
    val name = drain(stream, "hh", "complete")(_.format("memory"))
    val w = Window.partitionBy($"win").orderBy($"n_events".desc, $"user_id")
    ss.table(name)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= HhTopK)
      .select(date_format($"win.start", "yyyy-MM-dd").as("day"),
        $"rank", $"user_id", $"n_events")
      .orderBy($"day", $"rank")
  }

  val q264StreamHeavyHittersSql: String =
    s"""WITH e AS (SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
       |             * 86400000000 AS d_us, user_id FROM events),
       |c AS (SELECT d_us, user_id, CAST(count(*) AS BIGINT) AS n_events
       |      FROM e GROUP BY 1, 2),
       |r AS (SELECT d_us, user_id, n_events,
       |        row_number() OVER (PARTITION BY d_us
       |          ORDER BY n_events DESC, user_id) AS rn FROM c)
       |SELECT strftime(make_timestamp(d_us), '%Y-%m-%d') AS day,
       |  CAST(rn AS BIGINT) AS rank, user_id, n_events
       |FROM r WHERE rn <= $HhTopK
       |ORDER BY day, rank""".stripMargin

  // ---------------------------------------------------------------
  // q288: scale-safe streaming heavy hitters — update mode + keyed
  //       top-k store (the 100 TB shape of q264)
  // ---------------------------------------------------------------

  /** The SCALE-SAFE heavy-hitter readout — q264's output (per tumbling
    * day window, the top-[[HhTopK]] users by event count) produced by
    * the shape a 100 TB deployment actually runs:
    *
    *   - the windowed count aggregate runs in `update` output mode
    *     under the 1-hour watermark, so the state store holds one
    *     counter per LIVE (window, user) and EVICTS a window's keys
    *     once the watermark passes its end — unlike q264's `complete`
    *     mode, whose declared watermark never prunes and whose state
    *     grows with stream lifetime × user cardinality;
    *   - each micro-batch emits only the keys whose counts CHANGED
    *     (each carrying its full updated total, because the agg state
    *     owns the running count), and the leaderboard (rank + cut)
    *     runs in `foreachBatch` against a keyed parquet store — the
    *     q159/q275 front-door shape — so nothing ever re-materializes
    *     the full (day × user) relation, on the driver or anywhere:
    *     per batch the store merge touches O(windows×k + batch-updates)
    *     rows, all executor-side.
    *
    * The cut-to-k store is EXACT, not approximate: counts are
    * monotone non-decreasing, so once k users dominate user X under
    * the total order (count desc, user_id asc) they dominate X forever
    * unless X's own count grows — and any growth re-emits X's full
    * total in that batch's update set, re-admitting it to the merge.
    * A user absent from both the store and the update set can
    * therefore never belong in the final top-k. Store size is
    * (windows × k) — 90 rows here — vs q264's (days × users).
    *
    * The store publish is the upsert sink's two-rename discipline, and
    * a REPLAYED batch (foreachBatch is at-least-once) merges the same
    * full totals into the store idempotently — effectively-once output
    * without any batch-id bookkeeping.
    *
    * Oracled against the SAME DuckDB SQL as q264; the multi-batch
    * cut-and-re-enter path (a user ejected from the leaderboard by
    * batch 1 must reclaim its seat when batch 3's counts promote it)
    * is StreamingSpec's subject. Determinism: q264's (epoch-aligned
    * tumbling windows, unique (count desc, user_id) tie-break).
    *
    * SEMANTIC DIFFERENCE from q264 (deliberate, a consequence of the
    * eviction that makes the state bounded): update mode DROPS events
    * arriving more than 1 hour late (the watermark evicts a window's
    * agg state once it passes the window end), while q264's complete
    * mode — where the declared watermark has no effect — still counts
    * them. The shared oracle holds on any feed where no event is >1h
    * out of order ACROSS micro-batch boundaries (file drains qualify:
    * one file = one batch, the watermark never advances mid-data);
    * a genuinely multi-batch out-of-order feed can legitimately
    * diverge from the batch SQL without any store bug. The exactness
    * claim above covers the cut-to-k store only, not late data. */
  def q288StreamHeavyHittersScaled(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(spark, 8)
    heavyHitterStream(ss, rawEvents(ss, sfDir))
  }

  /** ONE heavy-hitter store fold step: upsert the batch's full
    * updated totals over the store (previous ranks dropped — they are
    * derived, never merged), re-rank per window under the
    * (count desc, user_id asc) total order, cut at [[HhTopK]]. This
    * is EXACTLY what `heavyHitterStream`'s foreachBatch publishes
    * each batch — split out so the ScalaCheck exactness property can
    * replay random event multisets under random batch splits through
    * the production merge (store ≡ the batch SQL leaderboard, the
    * monotone-dominance argument as an executable law) without paying
    * a streaming query per sample. */
  private[graft] def hhMergeCut(target: DataFrame, batch: DataFrame): DataFrame = {
    val merged = Staging.upsertByNaturalKey(
      target.drop("rank"), batch, Seq("win_start", "user_id"))
    val w = Window.partitionBy($"win_start")
      .orderBy($"n_events".desc, $"user_id")
    merged
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= HhTopK)
  }

  /** The update-mode walk over a prepared (ts timestamp, user_id)
    * stream — split from [[q288StreamHeavyHittersScaled]] so
    * StreamingSpec can drive a multi-batch file feed through the
    * cut-and-re-enter path. */
  private[graft] def heavyHitterStream(ss: SparkSession, src: DataFrame): DataFrame = {
    val store = Scratch.uniqueDir("hh_store")
    val stream = src
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 day").as("win"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"win.start".as("win_start"), $"user_id", $"n_events")
    drain(stream, "hhu", "update")(_.foreachBatch {
      (batch: DataFrame, _: Long) =>
        val target = Staging
          .readStore(batch.sparkSession, store, "heavy-hitter store")
          .getOrElse(batch.limit(0))
        Staging.publishStore(hhMergeCut(target, batch), store,
          "heavy-hitter store")
    })
    ss.read.parquet(store)
      .select(date_format($"win_start", "yyyy-MM-dd").as("day"),
        $"rank", $"user_id", $"n_events")
      .orderBy($"day", $"rank")
  }

  // ---------------------------------------------------------------
  // q289: streaming CMS heavy hitters — sketch-bounded state
  // ---------------------------------------------------------------

  /** Bucket of count-min hash row j for a user id: disjoint 8-hex-char
    * (32-bit) slice of ONE md5 of the id's decimal string, mod
    * [[graft.operators.TextOps.CmsW]] — the q276 cross-engine-exact
    * hash family over the user axis. */
  private def userBucketCol(j: Int): org.apache.spark.sql.Column =
    pmod(conv(substring(md5($"user_id".cast("string")), 8 * j - 7, 8),
      16, 10).cast("long"), lit(graft.operators.TextOps.CmsW.toLong))

  /** stack() generator unpivoting b1..bD to (hrow, bucket) — the q276
    * unpivot, local because TextOps' is private to its own axis. */
  private def userStackExpr: String =
    (1 to graft.operators.TextOps.CmsD).map(j => s"$j, b$j")
      .mkString(s"stack(${graft.operators.TextOps.CmsD}, ", ", ",
        ") as (hrow, bucket)")

  /** The SKETCH-BOUNDED heavy-hitter readout — the third and last
    * shape of the per-day top-k story, the one whose streaming state
    * does not grow with user cardinality AT ALL: q264 (complete-mode
    * aggregate, state = live windows × users), q288 (update-mode +
    * exact top-k store, state = live windows × users in the agg, store
    * = windows × k), and THIS — a [[graft.operators.TextOps.CmsD]]×
    * [[graft.operators.TextOps.CmsW]] count-min sketch per day
    * (Cormode–Muthukrishnan 2005), maintained additively across
    * micro-batches in a foreachBatch keyed store: state is
    * |days| × 2048 integer cells whether the stream carries a thousand
    * users or a billion — THE bounded-memory frequency structure at
    * 100 TB, and the escape hatch the q264 docstring promises.
    *
    * The leaderboard is then a CANDIDATE PROBE at readout: distinct
    * (day, user) candidates probe the sketch (min over the 4 hashed
    * cells), rank by (estimate desc, user_id), cut at k — a BATCH pass
    * over the drained corpus, executor-side, transient; deliberately
    * NOT streaming state (deployed, any candidate source plugs in:
    * the q288 store, a sampled id set, last hour's leaders). The
    * estimate is the CMS one-sided overestimate (≥ the true count,
    * collisions only inflate) and is bit-exact cross-engine: md5-slice
    * buckets, integer cells, integer min — the oracle replays the
    * sketch itself, not an approximation of it.
    *
    * Batch replays (foreachBatch is at-least-once) are skipped by
    * batch id — sketch addition is the one non-idempotent merge in the
    * store family, so the skip, not the merge, carries effective-once.
    * The skip mark is PERSISTED inside the store rows themselves
    * (every row carries the last-merged batch_id, read back as the
    * high-water before merging — sprtStream's snapshot discipline),
    * so a replay after a publish-then-crash, or a restart against a
    * durable store, is refused by the store's own record rather than
    * driver memory. Determinism: unique (est desc, user_id)
    * tie-break, string day keys (rule 4). */
  def q289StreamCmsHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(spark, 8)
    cmsHeavyHitters(ss, rawEvents(ss, sfDir), Tables.events(ss, sfDir))
  }

  /** One micro-batch merge into the per-day CMS store — the
    * foreachBatch body of [[cmsHeavyHitters]], split out so
    * PropertySpec can drive it directly with random multisets, random
    * batch splits and a random crash-and-replay point. `batch` is
    * (day, user_id) rows;
    * sketch addition is non-idempotent, so effective-once rides the
    * PERSISTED batch_id mark (read back from the store rows as the
    * high-water before merging — a replay after a publish-then-crash,
    * or against a fresh driver, is refused by the store's own record,
    * not `lastBatch` memory). */
  private[graft] def cmsStoreMerge(batch: DataFrame, batchId: Long,
      store: String,
      lastBatch: java.util.concurrent.atomic.AtomicLong): Unit = {
    import graft.operators.TextOps.CmsD
    if (batchId <= lastBatch.get()) ()
    else {
      val target = Staging.readStore(batch.sparkSession, store, "cms store")
      // persisted replay mark: every store row carries the last
      // merged batch_id, so the skip survives a publish-then-crash
      // replay and a restart against a durable store — the store's
      // own record, not driver memory, is the authority
      val mark = target.fold(Long.MinValue)(
        _.agg(coalesce(max($"batch_id"), lit(Long.MinValue)))
          .head.getLong(0))
      lastBatch.set(math.max(lastBatch.get(), mark))
      if (batchId <= mark) ()
      else {
        val delta = batch
          .select(($"day" +:
            (1 to CmsD).map(j => userBucketCol(j).as(s"b$j"))): _*)
          .select($"day", expr(userStackExpr))
          .groupBy($"day", $"hrow", $"bucket")
          .agg(count(lit(1)).as("cell"))
        val prior = target.fold(delta.limit(0))(
          _.select($"day", $"hrow", $"bucket", $"cell"))
        Staging.publishStore(
          prior.unionByName(delta)
            .groupBy($"day", $"hrow", $"bucket")
            .agg(sum($"cell").as("cell"))
            .withColumn("batch_id", lit(batchId)),
          store, "cms store")
        lastBatch.set(math.max(lastBatch.get(), batchId))
      }
    }
  }

  /** The sketch walk over a prepared (ts, user_id) stream plus a batch
    * probe relation — split from [[q289StreamCmsHeavyHitters]] so
    * StreamingSpec can drive a multi-batch file feed and prove the
    * cross-batch additive accumulation. */
  private[graft] def cmsHeavyHitters(ss: SparkSession, src: DataFrame,
      probeEvents: DataFrame): DataFrame = {
    import graft.operators.TextOps.CmsD
    val store = Scratch.uniqueDir("cmshh_store")
    val lastBatch = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val stream = src.select(
      date_format($"ts", "yyyy-MM-dd").as("day"), $"user_id")
    drain(stream, "cmshh", "append")(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        cmsStoreMerge(batch, batchId, store, lastBatch)
    })
    val cms = ss.read.parquet(store).drop("batch_id")
    val users = probeEvents
      .select(date_format($"ts", "yyyy-MM-dd").as("day"), $"user_id")
      .distinct()
    val est = users
      .select(($"day" +: $"user_id" +:
        (1 to CmsD).map(j => userBucketCol(j).as(s"b$j"))): _*)
      .select($"day", $"user_id", expr(userStackExpr))
      .join(cms, Seq("day", "hrow", "bucket"))
      .groupBy($"day", $"user_id").agg(min($"cell").as("est_cms"))
    val w = Window.partitionBy($"day").orderBy($"est_cms".desc, $"user_id")
    est.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= HhTopK)
      .select($"day", $"rank", $"user_id", $"est_cms")
      .orderBy($"day", $"rank")
  }

  /** DuckDB mirror: the SAME sketch replayed — md5-slice buckets over
    * the user id's decimal string, per-day cells, distinct-candidate
    * probe, (est desc, user_id) rank. */
  val q289StreamCmsHeavyHittersSql: String = {
    import graft.operators.TextOps.{CmsD, CmsW}
    val rowsVals = (1 to CmsD).map(j => s"($j)").mkString(", ")
    def caseB(col: String): String =
      (1 to CmsD).map(j =>
        s"WHEN r.hrow = $j THEN CAST('0x' || substring(md5($col), " +
          s"${8 * j - 7}, 8) AS BIGINT) % $CmsW")
        .mkString("CASE ", " ", " END")
    s"""WITH e AS (SELECT strftime(make_timestamp(
       |      (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
       |      * 86400000000), '%Y-%m-%d') AS day, user_id FROM events),
       |hrows AS (SELECT * FROM (VALUES $rowsVals) AS r(hrow)),
       |cells AS (SELECT day, r.hrow,
       |    ${caseB("CAST(user_id AS VARCHAR)")} AS bucket,
       |    CAST(count(*) AS BIGINT) AS cell
       |  FROM e, hrows r GROUP BY 1, 2, 3),
       |u AS (SELECT DISTINCT day, user_id FROM e),
       |probes AS (SELECT u.day, u.user_id, r.hrow,
       |    ${caseB("CAST(u.user_id AS VARCHAR)")} AS bucket
       |  FROM u, hrows r),
       |est AS (SELECT p.day, p.user_id,
       |    CAST(min(c.cell) AS BIGINT) AS est_cms
       |  FROM probes p JOIN cells c ON c.day = p.day
       |    AND c.hrow = p.hrow AND c.bucket = p.bucket
       |  GROUP BY 1, 2),
       |r AS (SELECT day, user_id, est_cms,
       |    row_number() OVER (PARTITION BY day
       |      ORDER BY est_cms DESC, user_id) AS rn FROM est)
       |SELECT day, CAST(rn AS BIGINT) AS rank, user_id, est_cms
       |FROM r WHERE rn <= $HhTopK
       |ORDER BY day, rank""".stripMargin
  }

  // ---------------------------------------------------------------
  // q287: streaming SPRT front door (sequential monitor as it runs)
  // ---------------------------------------------------------------

  /** The q280 Wald SPRT monitor as a STREAMING front door — sequential
    * testing is natively a streaming concern (the whole point of the
    * SPRT is deciding while data arrives): events stream in time
    * order, each micro-batch extends every type's log-likelihood walk
    * from carried state, and the first boundary crossing is latched
    * exactly once. Output ≡ the batch q280 readout.
    *
    * State per type is THREE integers plus the latched decision (n, S,
    * (n_decide, llr_decide)) — the minimal sequential-test state, held
    * driver-side in the foreachBatch sink (the q275 front-door shape:
    * the stream itself is window-free). Order contract: the walk is
    * only correct on a time-ordered feed, so the sink LOUDLY requires
    * every batch's min tsec to exceed the previous high-water (an
    * ingest that cuts batches on time boundaries satisfies this; a
    * disordered feed is refused rather than silently miswalked —
    * q275's monotone-ingest discipline). Within a batch the walk is
    * the q280 single-phase window offset by the carried (n₀, S₀);
    * crossings are latched only for still-undecided types.
    *
    * Oracled against the SAME DuckDB SQL as q280 (the q131 single-
    * batch validity argument: the driver's events table is one parquet
    * file ⇒ one micro-batch); the multi-batch carry path is
    * StreamingSpec's subject — three time-split batches must reproduce
    * the batch decision table exactly. */
  def q287StreamSprt(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(spark, 8)
    sprtStream(ss, rawEvents(ss, sfDir)
      .select($"event_type", $"event_id",
        $"ts".cast("long").as("tsec"), $"value"))
  }

  /** The streaming walk over a prepared (event_type, event_id, tsec,
    * value) stream — split from [[q287StreamSprt]] so StreamingSpec
    * can drive a multi-batch file feed.
    *
    * RESTART-SAFE: the carried per-type state is driver-held between
    * batches but does not die with the JVM — after every processed
    * batch the full (n, S, latched) table plus (batch_id, hi_water) is
    * snapshotted to a parquet table (two-rename publish, surviving
    * .bak promoted on recovery). With a caller-pinned `fixedCkpt` the
    * snapshot lives INSIDE that checkpoint, so a later sprtStream call
    * on it resumes the walk where the dead JVM left it; a run-private
    * walk keeps it in a [[Scratch]] directory nothing else reads.
    * Replay idempotence:
    * foreachBatch is at-least-once, and a replayed batch (its batchId
    * ≤ the snapshot's) is SKIPPED — its effect is already folded into
    * the snapshot, and without the skip the monotone-ingest require
    * below would abort the resumed query on data it already walked. */
  private[graft] def sprtStream(ss: SparkSession, src: DataFrame,
      fixedCkpt: Option[String] = None): DataFrame = {
    import graft.operators.EventOps
    // per-type carried state: (n, S, latched (n_decide, llr_decide))
    val state = scala.collection.concurrent.TrieMap
      .empty[String, (Long, Long, Option[(Long, Long)])]
    val hiWater = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val lastBatch = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val restored = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stateDir = fixedCkpt.fold(Scratch.uniqueDir("sprt_state"))(
      ckpt => s"$ckpt/graft_sprt_state")
    def restoreOnce(sp: SparkSession): Unit =
      if (restored.compareAndSet(false, true))
        Staging.readStore(sp, stateDir, "sprtStream state snapshot")
          .foreach(_.collect().foreach { r =>
            val dec =
              if (r.isNullAt(3)) None
              else Some((r.getLong(3), r.getLong(4)))
            state.put(r.getString(0), (r.getLong(1), r.getLong(2), dec))
            hiWater.set(math.max(hiWater.get(), r.getLong(6)))
            lastBatch.set(math.max(lastBatch.get(), r.getLong(5)))
          })
    def snapshot(sp: SparkSession, batchId: Long): Unit = {
      val rows = state.toSeq.map { case (t, (n, s0, dec)) =>
        (t, n, s0, dec.map(_._1), dec.map(_._2), batchId, hiWater.get())
      }
      Staging.publishStore(
        sp.createDataFrame(rows)
          .toDF("event_type", "n", "s", "n_dec", "llr_dec",
            "batch_id", "hi_water")
          .coalesce(1),
        stateDir, "sprtStream state snapshot")
    }
    drain(src, "sprt", "append", fixedCkpt)(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        restoreOnce(sp)
        if (batchId <= lastBatch.get()) {
          // at-least-once replay of a batch the snapshot already
          // folded in — reprocessing would double-count the walk and
          // trip the monotone require on its own data; skip is the
          // idempotent move
          ()
        } else {
        val base = batch.filter($"value".isNotNull)
          .select($"event_type", $"event_id", $"tsec",
            when($"value" >= EventOps.SprtValueCut, 1L).otherwise(0L)
              .as("x"))
        val bounds = base.agg(min($"tsec"), max($"tsec"),
          count(lit(1))).head()
        if (bounds.getLong(2) > 0L) {
          require(bounds.getLong(0) > hiWater.get(),
            s"sprtStream: non-monotone ingest batch (min tsec " +
              s"${bounds.getLong(0)} under high-water ${hiWater.get()}) " +
              "— the sequential walk is only valid on a time-ordered " +
              "feed, refusing to miswalk")
          val stRows = state.toSeq.map { case (t, (n, s0, dec)) =>
            (t, n, s0, dec.isDefined)
          }
          val stDf =
            if (stRows.isEmpty)
              sp.createDataFrame(Seq(("", 0L, 0L, false))).limit(0)
                .toDF("event_type", "n0", "s0", "decided")
            else sp.createDataFrame(stRows)
              .toDF("event_type", "n0", "s0", "decided")
          val w = Window.partitionBy($"event_type")
            .orderBy($"tsec", $"event_id")
          val walked = base
            .select($"event_type", $"x",
              row_number().over(w).as("rn"),
              sum($"x").over(w.rowsBetween(
                Window.unboundedPreceding, Window.currentRow)).as("sin"))
            .join(broadcast(stDf), Seq("event_type"), "left")
            .select($"event_type",
              (coalesce($"n0", lit(0L)) + $"rn").as("n"),
              (lit(EventOps.SprtLnRMicro) *
                (lit(2L) * (coalesce($"s0", lit(0L)) + $"sin") -
                  (coalesce($"n0", lit(0L)) + $"rn"))).as("llr"),
              coalesce($"decided", lit(false)).as("decided"))
          val firstCross = walked
            .filter(!$"decided" &&
              abs($"llr") >= EventOps.SprtBoundMicro)
            .groupBy($"event_type").agg(min($"n").as("n_decide"))
          val at = walked.join(firstCross, Seq("event_type"))
            .filter($"n" === $"n_decide")
            .select($"event_type", $"n_decide", $"llr")
          // |types|-row state readout — registered metadata collect
          val upd = base.groupBy($"event_type")
            .agg(count(lit(1)).as("cnt"), sum($"x").as("sx"))
            .join(at, Seq("event_type"), "left")
            .collect()
          upd.foreach { r =>
            val t = r.getString(0)
            val (n0, s0, dec) = state.getOrElse(t, (0L, 0L, None))
            val latched = dec.orElse(
              if (!r.isNullAt(3)) Some((r.getLong(3), r.getLong(4)))
              else None)
            state.put(t, (n0 + r.getLong(1), s0 + r.getLong(2), latched))
          }
          hiWater.set(bounds.getLong(1))
          snapshot(sp, batchId)
        }
        // monotone by construction: the skip branch already refuses
        // batchId <= mark, but max() keeps the high-water from ever
        // regressing even if a future edit reorders the branches
        lastBatch.set(math.max(lastBatch.get(), batchId))
        }
    })
    val rows = state.toSeq.map { case (t, (n, s0, dec)) =>
      (t, n, EventOps.SprtLnRMicro * (2L * s0 - n),
        dec.map(_._1), dec.map(_._2),
        dec match {
          case None => "continue"
          case Some((_, l)) =>
            if (l >= EventOps.SprtBoundMicro) "accept_h1" else "accept_h0"
        })
    }
    ss.createDataFrame(rows)
      .toDF("event_type", "n_total", "final_llr_micro",
        "n_decide", "llr_decide_micro", "decision")
      .orderBy($"event_type")
  }

  /** The shared label/decide transform (works on a stream or batch
    * doc relation — the lockstep guarantee is that both run THIS). */
  private def dedupLookup(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs
      .join(clusters, docs("doc_id") === clusters("c_doc_id"), "left")
      .select(docs("doc_id"), $"lang", $"source", $"n_chars",
        coalesce($"canonical_id", docs("doc_id")).as("canonical_id"),
        coalesce($"cluster_size", lit(1L)).as("cluster_size"),
        when(coalesce($"canonical_id", docs("doc_id")) === docs("doc_id"),
          "keep").otherwise("drop").as("action"))

}
