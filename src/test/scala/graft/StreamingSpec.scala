package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.streaming.EventStream

/** Structured Streaming operators against their batch twins: tumbling
  * aggregation (oracled as q33), watermarked stream dedup, and
  * mapGroupsWithState per-key state. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Harness.session(4)
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("streaming dedup count equals batch distinct event count") {
    // dropDuplicatesWithinWatermark deliberately WEAKENS exact dedup to
    // bound state: a duplicate id arriving > 1h apart in event time
    // survives (its original's state was evicted). So the universal
    // invariant is streaming >= batch-distinct; exact equality is only
    // guaranteed when the dataset has no cross-watermark duplicate ids
    // — assert that precondition explicitly so a future corpus that
    // violates it fails HERE with a diagnosis, not as a mystery count
    val streaming = EventStream.dedupCount(spark, d)
    val batch = Tables.events(spark, d).select($"event_id").distinct().count()
    assert(streaming >= batch)
    val crossWatermarkDups = Tables.events(spark, d)
      .select($"event_id", $"ts".cast("long").as("s"))
      .groupBy($"event_id")
      .agg((max($"s") - min($"s")).as("spread"))
      .filter($"spread" > 3600L)
      .count()
    assert(crossWatermarkDups === 0L,
      "dataset has duplicate ids >1h apart - exact-equality check below is not applicable")
    assert(streaming === batch)
  }

  test("q165 census drops a crafted within-watermark duplicate exactly once") {
    // the oracle-facing census is the identity on the unique-id driver
    // corpus — this case proves the DROP arm on a corpus where it must
    // fire: one duplicated event_id within the 1h late window counts
    // once; distinct ids are untouched
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_dedup").toString
    val t0 = 1700000000L
    Seq(
      (1L, t0, 10L, "view", 1.0, "{}"),
      (1L, t0 + 60, 10L, "view", 1.0, "{}"),    // duplicate id, 1 min later
      (2L, t0 + 120, 11L, "view", 2.0, "{}"),
      (3L, t0 + 180, 12L, "click", 4.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"us" * 1000000L).as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/_tmp")
    // the stream reader's pathGlobFilter matches LEAF FILE names — the
    // crafted table must be a single file literally named events.parquet
    val part = new java.io.File(s"$base/_tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$base/events.parquet"))
    val census = EventStream.q165StreamDedup(spark, base).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(census("view") === ((2L, 3.0)), s"view arm: ${census.get("view")}")
    assert(census("click") === ((1L, 4.0)))
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("stream-stream interval join equals the batch range join") {
    val streaming = EventStream.rangeJoinStream(spark, d)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.EventOps.q38RangeJoin(spark, d)
      .select($"user_id", $"event_id", $"purchase_id", $"gap_s")
      .collect().map(_.toSeq).toSet
    assert(streaming === batch)
    assert(streaming.nonEmpty)
  }

  test("stream-static enrichment join equals the batch join+agg row-for-row") {
    val streamed = EventStream.streamStaticEnrich(spark, d)
      .collect().map(_.toSeq).toSeq
    val batch = Tables.events(spark, d)
      .join(Tables.customer(spark, d).select($"c_custkey", $"c_mktsegment"),
        $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment", $"event_type")
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Relational.moneySum($"value").as("sum_value"))
      .orderBy($"c_mktsegment", $"event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("foreachBatch upsert sink: store equals batch events; rerun is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_store")
    val store = dir.toString + "/events"
    try {
      val first = EventStream.streamUpsertSink(spark, d, store)
        .select($"event_id").collect().map(_.getLong(0)).toSet
      val batchIds = Tables.events(spark, d)
        .select($"event_id").collect().map(_.getLong(0)).toSet
      assert(first === batchIds)
      // second full run re-delivers every event — the idempotent upsert
      // must leave the store EXACTLY as it was (effectively-once)
      val second = EventStream.streamUpsertSink(spark, d, store)
      assert(second.count() === batchIds.size.toLong)
      assert(second.select($"event_id").distinct().count() === batchIds.size.toLong)
    } finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }

  test("upsert sink: a corrupt store fails loudly instead of truncating") {
    // regression for the round-7 verdict's defect #1: the sink used to
    // Try(read).getOrElse(empty), so a corrupt store (or any transient
    // read failure) was silently treated as "no previous data" and every
    // previously-upserted row was discarded. A store path that EXISTS
    // but is not readable parquet must now fail the batch — and leave
    // the corrupt store untouched for forensics.
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_corrupt")
    try {
      val store = dir.toString + "/events"
      java.nio.file.Files.createDirectory(java.nio.file.Paths.get(store))
      val junk = java.nio.file.Paths.get(store, "part-00000.parquet")
      java.nio.file.Files.write(junk, "this is not a parquet file".getBytes)
      intercept[Exception] {
        EventStream.streamUpsertSink(spark, d, store)
      }
      assert(java.nio.file.Files.exists(junk),
        "the unreadable store must survive the failed run untouched")
    } finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }

  test("upsert sink: recovers the .bak store when a crash left no live path") {
    // the two-rename publish has a crash window where live was set aside
    // as .bak but the fresh store was never renamed in — on the next
    // batch the sink must resume from the backup, not restart empty
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_bak")
    try {
      val store = dir.toString + "/events"
      EventStream.streamUpsertSink(spark, d, store)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(store), java.nio.file.Paths.get(store + ".bak"))
      val recovered = EventStream.streamUpsertSink(spark, d, store)
      val n = Tables.events(spark, d).count()
      assert(recovered.count() === n)
      assert(recovered.select($"event_id").distinct().count() === n)
    } finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }

  test("mapGroupsWithState final per-user counts equal batch group counts") {
    val stateful = EventStream.statefulUserCounts(spark, d)
      .select($"user_id", $"n_events").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, d).groupBy($"user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stateful === batch)
  }

  test("streaming tumbling agg matches the batch query row-for-row") {
    val streaming = EventStream.tumblingCounts(spark, d)
      .select($"window_start", $"event_type", $"n_events", $"sum_value")
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.EventOps.q30EventsTumbling(spark, d)
      .select($"window_start", $"event_type", $"n_events", $"sum_value")
      .collect().map(_.toSeq).toSet
    assert(streaming === batch)
  }

  test("streaming sliding agg matches the batch sliding query row-for-row") {
    val streaming = EventStream.slidingCounts(spark, d)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.EventOps.q73SlidingWindow(spark, d)
      .select($"window_start", $"event_type", $"n_events", $"sum_value")
      .collect().map(_.toSeq).toSet
    assert(streaming === batch)
  }

  test("flatMapGroupsWithState sessionization: closed sessions equal batch minus open tails") {
    val gap = 1800L // same gap as q31 (EventOps.SessionGapSec)
    val streaming = EventStream.sessionizeStream(spark, d, gap)
      .select($"user_id", $"start_s", $"end_s", $"n_events")
      .collect().map(_.toSeq).toSet
    // batch sessions, minus each user's LAST session (never closed by a
    // later event, so the streaming operator correctly never emits it)
    val batch = graft.operators.EventOps.sessionize(
      Tables.events(spark, d)
        .select($"user_id", $"event_id", $"ts".cast("long").as("s")),
      key = "user_id", tsSec = "s", tieCol = "event_id", gapSec = gap)
      .groupBy($"user_id", $"session_seq")
      .agg(min($"s").as("start_s"), max($"s").as("end_s"),
        count(lit(1)).as("n_events"))
    val lastSeq = batch.groupBy($"user_id")
      .agg(max($"session_seq").as("last_seq"))
    val closed = batch.join(lastSeq, "user_id")
      .filter($"session_seq" =!= $"last_seq")
      .select($"user_id", $"start_s", $"end_s", $"n_events")
      .collect().map(_.toSeq).toSet
    assert(streaming === closed)
    assert(streaming.nonEmpty)
  }

  test("q176 session_window: exactly-gap merges, gap+1µs splits, end = last + gap") {
    // session_window's merge rule is `next.start <= prev.end`: an event
    // EXACTLY 1800 s after its predecessor EXTENDS the session (unlike a
    // half-open [t, t+gap) reading would suggest), and only a strictly
    // larger gap splits. The crafted corpus pins both arms of the
    // boundary — this is the rule the DuckDB mirror's `> 1800000000`
    // integer test mirrors (the first draft used `>=` and only agreed
    // on the real corpus because no exactly-gap pair exists there).
    val base = java.nio.file.Files
      .createTempDirectory("graft_sesswin").toString
    val t0 = 1700000000L
    Seq(
      // user 7: exactly-gap follower -> ONE session of 3
      (10L, t0 * 1000000L, 7L, "view", 1.0, "{}"),
      (11L, (t0 + 1800L) * 1000000L, 7L, "view", 1.0, "{}"),
      (12L, (t0 + 2400L) * 1000000L, 7L, "view", 1.0, "{}"),
      // user 8: gap + 1 µs -> TWO sessions
      (13L, t0 * 1000000L, 8L, "view", 1.0, "{}"),
      (14L, t0 * 1000000L + 1800L * 1000000L + 1L, 8L, "view", 1.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"us").as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/_tmp")
    val part = new java.io.File(s"$base/_tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$base/events.parquet"))
    val out = EventStream.q176SessionWindow(spark, base).collect()
    val u7 = out.filter(_.getAs[Long]("user_id") == 7L)
    assert(u7.length === 1, s"user 7 expected 1 merged session: ${u7.toSeq}")
    assert(u7.head.getAs[Long]("n_events") === 3L)
    assert(u7.head.getAs[Long]("end_us") === (t0 + 2400L + 1800L) * 1000000L)
    val u8 = out.filter(_.getAs[Long]("user_id") == 8L)
      .sortBy(_.getAs[Long]("start_us"))
    assert(u8.length === 2, s"user 8 expected a split: ${u8.toSeq}")
    assert(u8(0).getAs[Long]("end_us") === (t0 + 1800L) * 1000000L)
    assert(u8(1).getAs[Long]("start_us") === t0 * 1000000L + 1800000001L)
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("q187 streaming OHLC: crafted bars — boundary split, same-second tie-break") {
    // two instruments over a crafted hour boundary; for type 'a' two
    // ticks share the SAME whole second, so the open pick must fall to
    // the packed key's event_id arm (the rule-9 tie-break), and the
    // last tick of hour 0 lands at :59:59 while the next opens hour 1
    val base = java.nio.file.Files
      .createTempDirectory("graft_streamohlc").toString
    val h0 = 1700000000L - (1700000000L % 3600L) // hour-aligned
    Seq(
      // type a, hour 0: open tie (same second, ids 21 < 22) with the
      // LOWER id at the LATER microsecond — raw sub-second ordering
      // would pick id 22 (3.0), the packed second-grain key must pick
      // id 21 (7.0), so the test discriminates the two
      (22L, (h0 + 5L) * 1000000L + 100L, 1L, "a", 3.0, "{}"),
      (21L, (h0 + 5L) * 1000000L + 900L, 1L, "a", 7.0, "{}"),
      (23L, (h0 + 3599L) * 1000000L, 1L, "a", 1.0, "{}"),
      // type a, hour 1: single tick
      (24L, (h0 + 3600L) * 1000000L, 1L, "a", 9.0, "{}"),
      // type b, hour 0
      (25L, (h0 + 10L) * 1000000L, 2L, "b", 4.5, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"us").as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/_tmp")
    val part = new java.io.File(s"$base/_tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$base/events.parquet"))
    def asMap(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6), r.getDouble(7))).toMap
    val rows = asMap(EventStream.q187StreamOhlc(spark, base).collect())
    assert(rows.size === 3, s"expected 3 bars: $rows")
    val aBars = rows.filter(_._1._1 == "a").toSeq.sortBy(_._1._2)
    // hour-0 'a': open = value of event 21 (same-second tie -> lower
    // id, NOT earlier microsecond), close = :59:59 tick, high/low and
    // cent-grid volume exact
    assert(aBars(0)._2 === ((7.0, 7.0, 1.0, 1.0, 3L, 11.0)), s"a bar0: $aBars")
    assert(aBars(1)._2 === ((9.0, 9.0, 9.0, 9.0, 1L, 9.0)), s"a bar1: $aBars")
    assert(rows.filter(_._1._1 == "b").head._2 ===
      ((4.5, 4.5, 4.5, 4.5, 1L, 4.5)))
    // batch twin agrees row-for-row (volume included) on the crafted
    // corpus
    val batch = asMap(graft.operators.EventOps.q186OhlcBars(spark, base)
      .collect())
    assert(batch === rows, s"stream/batch divergence: $batch vs $rows")
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("q264 streaming heavy hitters: crafted leaderboard — tie-break, day boundary, short day") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_streamhh").toString
    val d0 = 1706745600L // 2024-02-01 00:00:00 UTC, day-aligned
    // day 0: users 5 and 9 tie at 3 events (rank by lower id), user 2
    // has 2, user 7's single event is cut at k=3; the :59:59 tick stays
    // in day 0 while the midnight tick opens day 1 (boundary split);
    // day 1 has ONE user — a leaderboard shorter than k
    val evs = Seq(
      (1L, d0 + 10L, 5L), (2L, d0 + 20L, 5L), (3L, d0 + 86399L, 5L),
      (4L, d0 + 30L, 9L), (5L, d0 + 40L, 9L), (6L, d0 + 50L, 9L),
      (7L, d0 + 60L, 2L), (8L, d0 + 70L, 2L),
      (9L, d0 + 80L, 7L),
      (10L, d0 + 86400L, 42L)) // midnight: day 1
    evs.map { case (id, s, u) => (id, s * 1000000L, u, "a", 1.0, "{}") }
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"us").as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/_tmp")
    val part = new java.io.File(s"$base/_tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$base/events.parquet"))
    val got = EventStream.q264StreamHeavyHitters(spark, base).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      ("2024-02-01", 1L, 5L, 3L),  // tie with 9 -> lower id first
      ("2024-02-01", 2L, 9L, 3L),
      ("2024-02-01", 3L, 2L, 2L),  // user 7 cut at k=3
      ("2024-02-02", 1L, 42L, 1L)), s"leaderboard: ${got.toSeq}")
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("q260 streaming dedup front door: crafted clusters, stream ≡ batch twin") {
    // crafted corpus: docs 1 and 2 share an identical 8-word text
    // (shingle jaccard 1.0 → one near-dup cluster, canonical = min id
    // = 1), doc 3 is disjoint (outside every cluster → its own
    // canonical, size 1). The front door must keep 1 and 3, drop 2.
    val base = java.nio.file.Files
      .createTempDirectory("graft_streamdedup").toString
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    Seq(
      (1L, textA, "en", "web"),
      (2L, textA, "en", "book"),
      (3L, "one two three four five six seven eight", "vi", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/_tmp")
    val part = new java.io.File(s"$base/_tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$base/documents.parquet"))
    def asMap(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("canonical_id"), r.getAs[Long]("cluster_size"),
          r.getAs[String]("action"))).toMap
    val stream = asMap(EventStream.q260StreamDedupLookup(spark, base).collect())
    assert(stream === Map(
      1L -> ((1L, 2L, "keep")),
      2L -> ((1L, 2L, "drop")),
      3L -> ((3L, 1L, "keep"))), s"crafted anchors: $stream")
    // lockstep: the batch twin runs the SAME dedupLookup transform over
    // the batch reader — stream ≡ batch bit-for-bit on any corpus
    val batch = asMap(EventStream.q260BatchTwin(spark, base).collect())
    assert(batch === stream, s"stream/batch divergence: $batch vs $stream")
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("GraftExtensions registers the native functions without error") {
    val e = new SparkSessionExtensions
    new GraftExtensions().apply(e) // builder-injection path; must not throw
  }

  test("incremental LSH stream append ≡ full rebuild on the real corpus") {
    // the q275 front door: delta docs arrive via readStream, each
    // micro-batch appends bands + new-involving pairs to the store;
    // the maintained relation must equal rebuilding from scratch
    val d = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val maintained = EventStream.incrementalLshStream(spark, d)
      .collect().map(key).sorted
    val rebuilt = graft.operators.TextOps
      .lshPairs(graft.sources.Tables.documents(spark, d))
      .collect().map(key).sorted
    assert(maintained.length === rebuilt.length &&
      maintained.toSeq === rebuilt.toSeq,
      s"stream-maintained index diverged from the full rebuild " +
        s"(${maintained.length} vs ${rebuilt.length} pairs)")
    // liveness: the delta genuinely appended (not a vacuous pass)
    val cut = graft.operators.TextOps
      .incCutDf(graft.sources.Tables.documents(spark, d))
      .head().getLong(0)
    assert(maintained.exists(_._2 >= cut),
      s"no delta-involving pair above cut $cut — the stream appended nothing")
  }

  test("q289 estimates are one-sided over the real corpus") {
    // the count-min guarantee the leaderboard rides: est_cms ≥ the
    // true (day, user) count for EVERY reported row (collisions only
    // inflate), and est ≤ that day's total events (a row can never
    // absorb more than the day). Both checked against independently
    // computed exact counts from the batch table
    val d = "/root/testdata/sf0.001"
    val got = EventStream.q289StreamCmsHeavyHitters(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty, "q289 returned no rows")
    val exact = Tables.events(spark, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dayTotal = exact.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    got.foreach { case (day, user, est) =>
      val ex = exact((day, user))
      assert(est >= ex,
        s"CMS under-estimated ($day, $user): est $est < exact $ex — " +
          "the one-sided guarantee is broken")
      assert(est <= dayTotal(day),
        s"CMS over-estimated past the day total ($day, $user): $est > " +
          s"${dayTotal(day)}")
    }
  }

  test("q288 heavy-hitter store: cut-and-re-enter across three batches") {
    // the scale-safe leaderboard's exactness argument, driven through
    // its hard case: user B is CUT from the top-3 store by batch 1
    // (count 2, behind A=5/C=4/D=3), re-enters at batch 2 (total 4),
    // and must finish rank 1 (total 6) — only correct if the update-
    // mode emissions re-admit cut keys to the store merge with full
    // totals; D updates in batch 3 but stays legitimately cut
    val base = "/tmp/graft_hh_stream_" + System.nanoTime()
    def ev(user: Long, hour: Int, n: Int): Seq[(java.sql.Timestamp, Long)] =
      (0 until n).map(i => (java.sql.Timestamp.valueOf(
        f"2024-01-01 0$hour:${i % 60}%02d:00"), user))
    val batches = Seq(
      ev(1L, 0, 5) ++ ev(3L, 0, 4) ++ ev(4L, 0, 3) ++ ev(2L, 0, 2),
      ev(2L, 1, 2),
      ev(2L, 2, 2) ++ ev(4L, 2, 1))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("ts", "user_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$base/_tmp$i")
      val part = new java.io.File(s"$base/_tmp$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$base/batch$i.parquet"))
      Thread.sleep(1100) // distinct mod-time seconds -> stable order
    }
    val ss = spark.newSession()
    val src = ss.readStream
      .schema(batches.head.toDF("ts", "user_id").schema)
      .option("pathGlobFilter", "batch*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(base)
    val got = EventStream.heavyHitterStream(ss, src)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      ("2024-01-01", 1L, 2L, 6L),   // B: cut at b1, re-entered, wins
      ("2024-01-01", 2L, 1L, 5L),   // A
      ("2024-01-01", 3L, 3L, 4L)),  // C beats D=4 on the user_id tie
      s"heavy-hitter store diverged: ${got.toSeq}")
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("q289 CMS store accumulates additively across three batches") {
    // the sketch-bounded leaderboard's carry path: user 7 spreads its
    // events across ALL three micro-batches (4+3+3), so its winning
    // estimate of 10 exists only if the per-batch sketch deltas SUM in
    // the store — a last-batch-wins or dropped-batch bug caps it at 4
    // and demotes it below user 8's single-batch 6. Also proves the
    // maintained multi-batch sketch ≡ the same feed drained as ONE
    // batch (CMS addition is associative)
    val base = "/tmp/graft_cmshh_stream_" + System.nanoTime()
    def ev(user: Long, hour: Int, n: Int): Seq[(java.sql.Timestamp, Long)] =
      (0 until n).map(i => (java.sql.Timestamp.valueOf(
        f"2024-03-05 0$hour:${i % 60}%02d:00"), user))
    val batches = Seq(
      ev(7L, 0, 4) ++ ev(8L, 0, 6) ++ ev(9L, 0, 2),
      ev(7L, 1, 3) ++ ev(9L, 1, 1),
      ev(7L, 2, 3))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("ts", "user_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$base/_tmp$i")
      val part = new java.io.File(s"$base/_tmp$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$base/batch$i.parquet"))
      Thread.sleep(1100)
    }
    val all = batches.flatten
    val ss = spark.newSession()
    val src = ss.readStream
      .schema(batches.head.toDF("ts", "user_id").schema)
      .option("pathGlobFilter", "batch*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(base)
    val probe = all.toDF("ts", "user_id")
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val got = EventStream.cmsHeavyHitters(ss, src, probe)
      .collect().map(key)
    // single-batch twin: same feed as one file through the same walk
    val ss2 = spark.newSession()
    probe.coalesce(1).write.mode("overwrite").parquet(s"$base/one/_tmp")
    val part = new java.io.File(s"$base/one/_tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$base/one/batch0.parquet"))
    val src2 = ss2.readStream
      .schema(probe.schema)
      .option("pathGlobFilter", "batch*.parquet")
      .parquet(s"$base/one")
    val oneBatch = EventStream.cmsHeavyHitters(ss2, src2, probe)
      .collect().map(key)
    assert(got.toSeq === oneBatch.toSeq,
      s"multi-batch sketch diverged from single-batch: ${got.toSeq}")
    // the accumulation genuinely ran: user 7's cross-batch total wins
    // (3 tiny users in 2048 buckets — collisions impossible here, so
    // est = exact count)
    assert(got.toSeq === Seq(
      ("2024-03-05", 1L, 7L, 10L),
      ("2024-03-05", 2L, 8L, 6L),
      ("2024-03-05", 3L, 9L, 3L)),
      s"CMS leaderboard diverged: ${got.toSeq}")
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("streaming SPRT survives a JVM restart mid-walk (state snapshot)") {
    // the round-12 verdict's restart-correctness gap: run 1 drains
    // batch 0 (7 events/type — no boundary crossed) against a PINNED
    // checkpoint and then "dies" (its driver TrieMap is garbage); run 2
    // is a fresh sprtStream call on the same checkpoint after batches
    // 1-2 arrive. The 'up' latch at n=15 inside run 2 is only correct
    // if run 1's carried counts were restored from the persisted
    // snapshot — the checkpoint marks batch 0's file seen, so run 2
    // never re-reads its events
    import graft.operators.EventOps
    def stream(t: String, base: Long, vals: Seq[Double]) =
      vals.zipWithIndex.map { case (v, i) =>
        (t, base + i, i.toLong * 50000L, v)
      }
    val all = (
      stream("up", 100L, Seq.fill(20)(300.0)) ++
      stream("down", 200L, Seq.fill(20)(10.0)) ++
      stream("flat", 300L, (0 until 20).map(i =>
        if (i % 2 == 0) 300.0 else 10.0))
    )
    val base = "/tmp/graft_sprt_resume_" + System.nanoTime()
    val ckpt = s"$base/ckpt"
    val schema = all.toDF("event_type", "event_id", "tsec", "value").schema
    val cuts = Seq(0L to 6L, 7L to 13L, 14L to 19L)
    def writeBatch(i: Int): Unit = {
      all.filter(e => cuts(i).contains(e._3 / 50000L))
        .toDF("event_type", "event_id", "tsec", "value")
        .coalesce(1).write.mode("overwrite").parquet(s"$base/_tmp$i")
      val part = new java.io.File(s"$base/_tmp$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$base/batch$i.parquet"))
      Thread.sleep(1100) // distinct mod-time seconds -> stable order
    }
    def feed(ss: SparkSession) = ss.readStream
      .schema(schema)
      .option("pathGlobFilter", "batch*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(base)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getString(5))
    writeBatch(0)
    val ss1 = spark.newSession()
    val run1 = EventStream.sprtStream(ss1, feed(ss1), Some(ckpt))
      .collect().map(key)
    assert(run1.forall(_._6 == "continue") && run1.forall(_._2 == 7L),
      s"run 1 should end undecided at n=7: ${run1.toSeq}")
    writeBatch(1); writeBatch(2)
    val ss2 = spark.newSession()
    val run2 = EventStream.sprtStream(ss2, feed(ss2), Some(ckpt))
      .collect().map(key)
    val batch = EventOps.sprt(
      all.toDF("event_type", "event_id", "tsec", "value"))
      .collect().map(key)
    assert(run2.toSeq === batch.toSeq,
      s"resumed walk diverged from batch: ${run2.toSeq} vs ${batch.toSeq}")
    assert(run2.exists(_._4.contains(15L)),
      "no decision latched at n=15 — the restored carry never ran")
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("streaming SPRT over three time-split batches ≡ batch walk") {
    // the q287 carry path: the 'up' stream crosses its boundary at
    // n=15, INSIDE batch 3 — so the latch depends on state carried
    // across two batch boundaries; 'flat' must still read continue
    import graft.operators.EventOps
    def stream(t: String, base: Long, vals: Seq[Double]) =
      vals.zipWithIndex.map { case (v, i) =>
        (t, base + i, i.toLong * 50000L, v)
      }
    val all = (
      stream("up", 100L, Seq.fill(20)(300.0)) ++
      stream("down", 200L, Seq.fill(20)(10.0)) ++
      stream("flat", 300L, (0 until 20).map(i =>
        if (i % 2 == 0) 300.0 else 10.0))
    )
    val base = "/tmp/graft_sprt_stream_" + System.nanoTime()
    val cuts = Seq(0L to 6L, 7L to 13L, 14L to 19L)
    cuts.zipWithIndex.foreach { case (rng, i) =>
      all.filter(e => rng.contains(e._3 / 50000L))
        .toDF("event_type", "event_id", "tsec", "value")
        .coalesce(1).write.mode("overwrite").parquet(s"$base/_tmp$i")
      val part = new java.io.File(s"$base/_tmp$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$base/batch$i.parquet"))
      Thread.sleep(1100) // distinct mod-time seconds -> stable order
    }
    val ss = spark.newSession()
    val src = ss.readStream
      .schema(all.toDF("event_type", "event_id", "tsec", "value").schema)
      .option("pathGlobFilter", "batch*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(base)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getString(5))
    val streamed = EventStream.sprtStream(ss, src).collect().map(key)
    val batch = EventOps.sprt(
      all.toDF("event_type", "event_id", "tsec", "value"))
      .collect().map(key)
    assert(streamed.toSeq === batch.toSeq,
      s"stream/batch SPRT divergence: ${streamed.toSeq} vs ${batch.toSeq}")
    // the carry path genuinely ran: a decision latched (batch 3 holds
    // n=15 only if batches 1-2 carried their counts)
    assert(streamed.exists(_._4.contains(15L)),
      "no decision latched at n=15 — the multi-batch carry never ran")
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }
}
