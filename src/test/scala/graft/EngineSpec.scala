package graft

import java.nio.file.{Files, Paths}
import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ods.OdsBuild
import graft.stg.{Normalizer, Staging}

/** Per-operator unit specs (SURVEY.md §5): window ramp-up, 'NaN' sentinel
  * typing, role-playing joins with nullable prev ids, upsert idempotence,
  * messy-header normalization — on tiny literal frames. */
class EngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Harness.session(4)
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  // ------------------------------------------------------------------
  // ODS build (W1-W5, J1-J3)
  // ------------------------------------------------------------------

  test("q157 volatility core: constant series yields exact 0, giant diffs never NaN") {
    // the variance (n·Σd² − (Σd)²)/n² assembles from independently-
    // rounded doubles; once n·Σd² exceeds 2^53, a zero-variance series
    // can round to a tiny NEGATIVE — DuckDB's sqrt would error and
    // Spark would emit NaN. The clamp (greatest(var, 0) on both sides)
    // must make every vol finite and non-negative.
    def series(cents: Seq[Long]): DataFrame =
      cents.zipWithIndex.map { case (c, i) =>
        (1L, d("2021-01-04"), i.toLong, i, i.toLong, c)
      }.toDF("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
        "l_partkey", "cents")
    // constant prices: every diff is 0 — vol must be exactly 0.0
    val flat = graft.operators.EventOps.volatilityOf(
      series(Seq.fill(5)(12345L))).collect()
    assert(flat.length === 1)
    assert(flat.head.getAs[Double]("vol") === 0.0)
    // equal giant diffs (~1e9 cents): mathematically zero variance, but
    // n·Σd² ≈ 9e18 rounds in double — pre-clamp this could go sqrt(-ε)
    val dd = 999999937L
    val giant = graft.operators.EventOps.volatilityOf(
      series(Seq(0L, dd, 2 * dd, 3 * dd))).collect()
    assert(giant.length === 1)
    val vol = giant.head.getAs[Double]("vol")
    assert(!vol.isNaN && vol >= 0.0, s"vol must be finite non-negative, got $vol")
  }

  private def stgFixture: DataFrame = Seq(
    // contract, timing, mo, change, prev_open, high, low, prev, last, volume, oi, snapshot_date
    ("KCH21", "t", "2", "+1", 100.0, 105.0, 99.0, 100.0, "104.00", 10L, 5L, d("2021-01-04")),
    ("KCH21", "t", "2", "+1", 104.0, 106.0, 103.0, 104.0, "105.50", 11L, 5L, d("2021-01-05")),
    ("KCK21", "t", "3", "+1", 101.0, 107.0, 100.0, 101.0, "106.00", 12L, 6L, d("2021-01-04")),
    ("KCK21", "t", "3", "+1", 106.0, 108.0, 105.0, 106.0, "107.25", 13L, 6L, d("2021-01-05"))
  ).toDF("contract", "timing", "mo", "change", "prev_open", "high", "low",
    "prev", "last", "volume", "oi", "snapshot_date")

  test("W1: lead-of-contract with 'NaN' string sentinel on last row per mo") {
    val feat = OdsBuild.windowedFeatures(stgFixture)
    val rows = feat.select("mo", "snapshot_date", "prev_contract_code")
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getString(2))).toSet
    assert(rows.contains(("2", "2021-01-04", "KCH21"))) // next row's code
    assert(rows.contains(("2", "2021-01-05", "NaN")))   // sentinel, not NULL
    assert(feat.schema("prev_contract_code").dataType === StringType)
  }

  test("W3: calendar spread partitions by date, orders mo desc, rounds 2") {
    val feat = OdsBuild.windowedFeatures(stgFixture)
    val jan4 = feat.filter($"snapshot_date" === d("2021-01-04"))
      .select("mo", "spread").collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    // mo desc order: 3 first (lag=null), then 2 (104.00 - 106.00 = -2.0)
    assert(jan4("3").isEmpty)
    assert(jan4("2").contains(-2.0))
  }

  test("W4/W5: MA ramp-up — first row's MA equals its own price") {
    val feat = OdsBuild.windowedFeatures(stgFixture)
    val first = feat.filter($"mo" === "2" && $"snapshot_date" === d("2021-01-04"))
      .select("ma_50", "ma_200").head()
    assert(first.getDouble(0) === 104.0)
    assert(first.getDouble(1) === 104.0)
    val second = feat.filter($"mo" === "2" && $"snapshot_date" === d("2021-01-05"))
      .select("ma_50").head()
    assert(second.getDouble(0) === (104.0 + 105.5) / 2)
  }

  test("J1-J3: star joins, role-played contract dim, nullable prev id") {
    val dimDate = OdsBuild.buildDateDim(stgFixture, "snapshot_date")
    val dimContract = OdsBuild.buildContractDim(stgFixture, "contract")
    val fact = OdsBuild.buildFact(stgFixture, dimDate, dimContract)
    assert(fact.columns.length === 16)
    assert(fact.count() === 4)
    // 'NaN' prev codes (last row per mo) must yield NULL prev_contract_id
    assert(fact.filter($"prev_contract_id".isNull).count() === 2)
    // date surrogate is deterministic yyyyMMdd
    assert(fact.filter($"date_id" === 20210104).count() === 2)
  }

  test("E2 plan shape: the five-window fact build uses exactly two exchanges") {
    // W1/W2/W4/W5 share partitionBy(mo); W3 partitions by snapshot_date —
    // SURVEY §7.4 risk 4: no accidental third shuffle
    val plan = OdsBuild.windowedFeatures(stgFixture)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 2, s"expected 2 exchanges, plan:\n$plan")
  }

  test("date dim surrogate keys are unique and deterministic") {
    val dim = OdsBuild.buildDateDim(stgFixture, "snapshot_date")
    assert(dim.count() === 2)
    assert(dim.select("date_id").distinct().count() === 2)
  }

  // ------------------------------------------------------------------
  // Staging upsert (J4)
  // ------------------------------------------------------------------

  test("J4 upsert: staged rows replace matching natural keys; idempotent") {
    val target = Seq(("VN", d("2021-01-01"), 10), ("BR", d("2021-01-01"), 20))
      .toDF("country", "report_date", "qty")
    val staged = Seq(("VN", d("2021-01-01"), 99), ("CO", d("2021-01-01"), 30))
      .toDF("country", "report_date", "qty")
    val once = Staging.upsertByNaturalKey(target, staged, Seq("country", "report_date"))
    val got = once.collect().map(r => (r.getString(0), r.getInt(2))).toSet
    assert(got === Set(("VN", 99), ("BR", 20), ("CO", 30)))
    val twice = Staging.upsertByNaturalKey(once, staged, Seq("country", "report_date"))
    assert(twice.collect().map(r => (r.getString(0), r.getInt(2))).toSet === got)
  }

  test("J4 upsert: NULL key cells match null-safely (idempotent)") {
    val target = Seq((null.asInstanceOf[String], d("2021-01-01"), 1), ("BR", d("2021-01-01"), 2))
      .toDF("country", "report_date", "qty")
    val staged = Seq((null.asInstanceOf[String], d("2021-01-01"), 99))
      .toDF("country", "report_date", "qty")
    val once = Staging.upsertByNaturalKey(target, staged, Seq("country", "report_date"))
    val got = once.collect().map(r => (Option(r.getString(0)), r.getInt(2))).toSet
    assert(got === Set((None, 99), (Some("BR"), 2))) // NULL-key row replaced, not duplicated
    val twice = Staging.upsertByNaturalKey(once, staged, Seq("country", "report_date"))
    assert(twice.count() === 2)
  }

  // ------------------------------------------------------------------
  // Messy-header normalizer (P3-P9, P11)
  // ------------------------------------------------------------------

  test("SCD2 apply: change closes + reopens, same-value no-ops, re-apply idempotent") {
    val current = Seq(
      (1L, "A", "1990-01-01", "9999-12-31", true),
      (2L, "B", "1990-01-01", "9999-12-31", true),
      (3L, "C", "1990-01-01", "9999-12-31", true)
    ).toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val updates = Seq(
      (1L, "A2", "2020-06-01"), // changed → close + reopen
      (2L, "B", "2020-06-01")   // same value → no-op
    ).toDF("k", "attr", "chg")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getBoolean(4)))
      .toSet
    val once = Staging.scd2Apply(current, updates, "k", "attr", "chg")
    assert(rows(once) === Set(
      (1L, "A", "1990-01-01", "2020-06-01", false),
      (1L, "A2", "2020-06-01", "9999-12-31", true),
      (2L, "B", "1990-01-01", "9999-12-31", true),
      (3L, "C", "1990-01-01", "9999-12-31", true)))
    // applying the SAME batch again must change nothing: the changed key's
    // current row now already carries the new value
    val updates2 = Seq((1L, "A2", "2020-07-01"), (2L, "B", "2020-07-01"))
      .toDF("k", "attr", "chg")
    assert(rows(Staging.scd2Apply(once, updates2, "k", "attr", "chg")) === rows(once))
  }

  test("SCD2 apply: a multi-update CDC batch collapses to latest-per-key, no overlapping versions") {
    val current = Seq(
      (1L, "A", "1990-01-01", "9999-12-31", true)
    ).toDF("k", "attr", "valid_from", "valid_to", "is_current")
    // two updates to the SAME key in one batch — only the latest state
    // becomes a version (batch-grain history): correct two-version
    // result, not three rows with overlapping validity
    val updates = Seq(
      (1L, "A2", "2020-06-01"),
      (1L, "A3", "2020-09-01")
    ).toDF("k", "attr", "chg")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getBoolean(4)))
      .toSet
    assert(rows(Staging.scd2Apply(current, updates, "k", "attr", "chg")) === Set(
      (1L, "A", "1990-01-01", "2020-09-01", false),
      (1L, "A3", "2020-09-01", "9999-12-31", true)))
    // a batch whose LATEST state equals the current value is a no-op
    // even when an intermediate state differed
    val bounce = Seq(
      (1L, "A9", "2020-06-01"),
      (1L, "A", "2020-09-01")
    ).toDF("k", "attr", "chg")
    assert(rows(Staging.scd2Apply(current, bounce, "k", "attr", "chg")) ===
      rows(current))
  }

  test("sequence packing: per-language running totals, straddling docs, shard independence") {
    import graft.operators.TextOps
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    // lang A: 300 + 300 + 100 tokens at budget 512 → doc 2 STARTS in
    // pack 0 at offset 300 (straddles into pack 1), doc 3 starts in
    // pack 1 at offset 88; lang B packs independently from zero
    val docs = Seq(
      (1L, "A", words(300)), (2L, "A", words(300)), (3L, "A", words(100)),
      (10L, "B", words(600)), (11L, "B", words(10))
    ).toDF("doc_id", "lang", "text")
    // nShards = 1 pins every doc to shard 0, keeping the hand-computed
    // per-language expectations; multi-shard behavior is covered by the
    // PropertySpec fold comparison
    def packs(df: org.apache.spark.sql.DataFrame) =
      TextOps.packSequences(df, budget = 512L, nShards = 1).collect()
        .map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("pack_id"), r.getAs[Long]("pack_offset"))).toSet
    val got = packs(docs)
    assert(got === Set(
      (1L, 0L, 0L), (2L, 0L, 300L), (3L, 1L, 600L - 512L),
      (10L, 0L, 0L), (11L, 1L, 600L - 512L)))
    // partitioning invariance: the pack assignment is a pure function
    // of (lang, shard, doc_id order, token counts)
    assert(packs(docs.repartition(7)) === got)
    // ...and at the PRODUCTION shard count too: the md5 shard key must
    // be partition-independent (a physical-partition-dependent hash
    // here would only surface as a sub-1% driver mismatch)
    def packs8(df: org.apache.spark.sql.DataFrame) =
      TextOps.packSequences(df, budget = 512L).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
          r.getAs[Long]("pack_id"), r.getAs[Long]("pack_offset"))).toSet
    assert(packs8(docs.repartition(7)) === packs8(docs))
  }

  test("decontamination flags exactly the docs sharing a shingle with the benchmark split") {
    import graft.operators.TextOps
    val docs = Seq(
      (7L, "the secret eval answer is forty two"),      // benchmark (id % 10 == 7)
      (1L, "padding words then the secret eval answer"), // shares 2 shingles
      (2L, "completely unrelated text with other words"),
      (3L, "the secret eval"),                           // 1 shared shingle
      (17L, "another benchmark doc entirely different")  // benchmark too
    ).toDF("doc_id", "text")
    val got = TextOps.decontaminate(docs, col("doc_id") % 10 === 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // doc 1 shares "the secret eval" and "secret eval answer"; doc 3
    // shares "the secret eval"; doc 2 nothing; benchmark docs excluded
    assert(got === Map(1L -> 2L, 3L -> 1L))
  }

  test("repetition ratio: duplicate shingle fraction per document") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "a b c a b c a b c"), // 7 shingles, 3 distinct → 1 - 3/7
      (2L, "all distinct words here now"), // 3 shingles, all distinct → 0
      (3L, "too short")          // < 3 words → no row
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionStats(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L)._1 === 7L && got(1L)._2 === 3L)
    assert(math.abs(got(1L)._3 - (1.0 - 3.0 / 7.0)) < 5e-7)
    assert(got(2L) === ((3L, 3L, 0.0)))
  }

  test("substr dedup: first occurrence survives, spans merge, short docs exempt") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),  // all first
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),  // exact copy
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 x1 x2 x3 x4"),     // shares ONE 8-gram
      (4L, "short doc"),                                // < W tokens: no grams
      (5L, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8") // self-repeat
    ).toDF("doc_id", "text")
    val got = TextOps.substrDedupStats(docs).collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) === ((12L, 0L, 0L, 12L)))  // every gram is first
    // doc 2: all 5 grams duplicate doc 1's; overlapping spans union to
    // the whole doc (8 + 1+1+1+1 = 12)
    assert(got(2L) === ((12L, 5L, 12L, 0L)))
    assert(got(3L) === ((12L, 1L, 8L, 4L)))   // one 8-token span removed
    assert(got(4L) === ((2L, 0L, 0L, 2L)))    // too short to form a gram
    // doc 5: the second half's pos-8 gram duplicates its OWN pos-0 gram
    // (within-doc repeats are removed too, first-in-doc wins)
    assert(got(5L) === ((16L, 1L, 8L, 8L)))
  }

  test("bench contract line: fastest queries fold into qother when over budget") {
    val results = (1 to 200).map(i => (f"q$i%03d_name", i / 100.0)) :+
      ("q999_broken", -1.0)
    // generous budget: everything fits, no merge fields
    val full = Bench.contractLine(results, 201.0, "cold", 1, "one-shot",
      "/sf", budget = 100000)
    assert(!full.contains("qmerged") && full.contains("\"q999\":-1"))
    assert("\"q\\d+\":".r.findAllMatchIn(full).size == 201)
    // tight budget: merge fires — the line fits, the SLOWEST and the
    // FAILED queries survive individually, qother sums the merged
    // centiseconds exactly
    val tight = Bench.contractLine(results, 201.0, "cold", 1, "one-shot",
      "/sf", budget = 1000)
    assert(tight.length < 1000)
    assert(tight.contains("\"q200\":200") && tight.contains("\"q999\":-1"),
      s"slowest/failed rows must survive the merge: $tight")
    assert(!tight.contains("\"q001\":"), s"fastest row must merge: $tight")
    val merged = "\"qmerged\":(\\d+)".r.findFirstMatchIn(tight).get.group(1).toInt
    val other = "\"qother\":(\\d+)".r.findFirstMatchIn(tight).get.group(1).toLong
    val kept = "\"q(\\d+)\":".r.findAllMatchIn(tight)
      .map(_.group(1).toInt).toSet - 999
    val expectOther = (1 to 200).filterNot(kept).map(_.toLong).sum
    assert(merged == 200 - kept.size && other == expectOther,
      s"qother must sum exactly the merged centiseconds: $tight")
  }

  test("bench contract line fits at the FULL current query surface (worst-case widths)") {
    // round-10 verdict item 7: the 1869/1900-char measurement was taken
    // at 198 queries — re-pin the guard at the CURRENT surface size so
    // growth can't silently run the line out of fold headroom. Worst
    // realistic widths: every query at 999.99s (5-digit centiseconds)
    // and a 16-query failure batch (failures never fold, so they are
    // the incompressible part of the line).
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = names.zipWithIndex.map { case (n, i) =>
      (n, if (i % 16 == 0) -1.0 else 999.99)
    }
    val line = Bench.contractLine(results, 999.99 * names.size, "cold", 1,
      "one-shot", "/root/testdata/sf0.1")
    assert(line.length < 1870,
      s"contract line must fit the default budget at ${names.size} queries: ${line.length}")
    // the fold must still keep the failures individually visible
    results.filter(_._2 < 0).foreach { case (n, _) =>
      assert(line.contains("\"" + n.split("_")(0) + "\":-1"),
        s"failed row ${n} folded away: $line")
    }
    assert(line.contains("\"qmerged\":"), "full surface must trigger the fold")
    // incompressibility bound: failures never fold, so they are the one
    // row class that can outgrow the budget. Pin the guaranteed failure
    // capacity: a 64-query failure batch (a whole operator family
    // regressing at once) must still fit beside the fold — beyond that
    // the hard require in main is the intended loud signal.
    val batchFail = names.zipWithIndex.map { case (n, i) =>
      (n, if (i < 64) -1.0 else 999.99)
    }
    val failLine = Bench.contractLine(batchFail, 999.99 * names.size,
      "cold", 1, "one-shot", "/root/testdata/sf0.1")
    assert(failLine.length < 1870,
      s"64-failure batch no longer fits the stdout contract " +
        s"(${failLine.length} chars) — shrink ids before adding queries")
  }

  test("bench contract line scheme holds at a simulated 320-query surface") {
    // round-11 verdict item 5: growth is ~12 queries/round, so pin the
    // 300+ scheme NOW rather than discover the cliff at q301. DECIDED
    // SCHEME (unchanged from today, re-affirmed): failures always
    // individual, slowest-N kept, everything else folded into
    // qmerged/qother on the stdout line; the FULL per-query map always
    // reaches the output files and stderr. The fold degrades to keep=0
    // (failures only), so the only incompressible row class is
    // failures — pinned below at both the realistic (1-in-16) and the
    // family-regression (64-batch) failure densities on a 320-id
    // surface with worst-case widths (999.99 s = 5-digit centiseconds).
    val names = (1 to 320).map(i => s"q${i}_simulated_growth_name")
    val realistic = names.zipWithIndex.map { case (n, i) =>
      (n, if (i % 16 == 0) -1.0 else 999.99)
    }
    val line = Bench.contractLine(realistic, 999.99 * names.size, "cold",
      3, "reps-median", "/root/testdata/sf0.1")
    assert(line.length < 1870,
      s"320-query realistic line overflows: ${line.length}")
    realistic.filter(_._2 < 0).foreach { case (n, _) =>
      assert(line.contains("\"" + n.split("_")(0) + "\":-1"),
        s"failed row $n folded away at 320 queries")
    }
    assert(line.contains("\"qmerged\":"))
    val batchFail = names.zipWithIndex.map { case (n, i) =>
      (n, if (i < 64) -1.0 else 999.99)
    }
    val failLine320 = Bench.contractLine(batchFail, 999.99 * names.size,
      "cold", 3, "reps-median", "/root/testdata/sf0.1")
    assert(failLine320.length < 1870,
      s"64-failure batch at 320 queries overflows (${failLine320.length}) " +
        "— the scheme needs revisiting before the surface grows further")
  }

  test("substr grams: native expression equals the declarative lead-window md5s") {
    import graft.operators.TextOps
    // exercises every tokenization edge the byte-slice path must match:
    // consecutive spaces (empty tokens), trailing space, multi-byte
    // UTF-8, exactly-W tokens, under-W tokens, and a repeated gram
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a  b c d e f g h"),            // empty token from double space
      (3L, "a b c d e f g h "),            // trailing space -> empty token
      (4L, "å ß ç déf g h i j k"),         // multi-byte UTF-8 tokens
      (5L, "one two three"),               // under W tokens: no grams
      (6L, "x x x x x x x x x x x x")      // internal repeats
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "pos", "h", "occ").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSet
    val native = rows(TextOps.substrGramRows(docs))
    val declarative = rows(TextOps.substrGramRowsDeclarative(docs))
    assert(native === declarative)
    // sanity on the crafted shapes: doc 5 yields no grams, doc 1 yields
    // exactly n - W + 1 = 3, and doc 6's positions are all present
    assert(!native.exists(_._1 == 5L))
    assert(native.count(_._1 == 1L) === 3)
    assert(native.filter(_._1 == 6L).map(_._2) === Set(0, 1, 2, 3, 4))
  }

  test("substr redact: excised text matches hand-computed survivors and q168's counts") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),  // exact copy: fully excised
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 x1 x2 x3 x4"),     // loses first 8 tokens
      (4L, "short doc"),                               // untouched verbatim
      (5L, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"), // self-repeat
      // trailing space: 9 tokens, the last EMPTY — its pos-0 gram
      // duplicates doc 1's, so only the empty token survives: counts
      // say 1 kept (position algebra), the string can only say ""
      (6L, "w1 w2 w3 w4 w5 w6 w7 w8 ")
    ).toDF("doc_id", "text")
    val got = TextOps.substrRedact(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) === ((12L, 12L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12")))
    assert(got(2L) === ((12L, 0L, "")))
    assert(got(3L) === ((12L, 4L, "x1 x2 x3 x4")))
    assert(got(4L) === ((2L, 2L, "short doc")))
    assert(got(5L) === ((16L, 8L, "r1 r2 r3 r4 r5 r6 r7 r8")))
    assert(got(6L) === ((9L, 1L, "")),
      "empty-token survivor: counts from positions, text from bytes")
    // the string-derived kept counts must equal q168's count-side ones
    val census = TextOps.substrDedupStats(docs).collect()
      .map(r => (r.getLong(0), r.getLong(4))).toMap
    assert(got.view.mapValues(_._2).toMap === census,
      "q170 kept_text token counts diverge from q168's interval union")
  }

  test("decontam spans: benchmark 8-gram hits remove their exact interval union") {
    import graft.operators.TextOps
    val docs = Seq(
      (10L, "b1 b2 b3 b4 b5 b6 b7 b8 b9"),              // benchmark: 2 grams
      (1L, "b1 b2 b3 b4 b5 b6 b7 b8 y1 y2 y3 y4"),      // one hit at pos 0
      (2L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),           // clean
      (3L, "b1 b2 b3 b4 b5 b6 b7 b8 z b1 b2 b3 b4 b5 b6 b7 b8"), // 2 disjoint hits
      (4L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 d1 d2 d3")       // 2 OVERLAPPING hits
    ).toDF("doc_id", "text")
    val got = TextOps.decontamSpanStats(docs, col("doc_id") >= 10)
      .collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(!got.contains(10L))                 // benchmark docs excluded
    assert(got(1L) === ((12L, 1L, 8L, 4L)))
    assert(got(2L) === ((10L, 0L, 0L, 10L)))
    // doc 3: hits at pos 0 and pos 9, gap 9 >= W — two full spans
    assert(got(3L) === ((17L, 2L, 16L, 1L)))
    // doc 4: hits at pos 0 and pos 1 OVERLAP — union is 8 + 1 = 9, not 16
    assert(got(4L) === ((12L, 2L, 9L, 3L)))
  }

  test("BMP codec: encodeBmp produces a real image javax.imageio decodes back to exact channel sums") {
    import graft.multimodal.Multimodal
    // payload bytes 0..99: channel sums are computable by hand —
    // byte i (0-based) lands in channel i % 3 (BGR order)
    val payload = Array.tabulate[Byte](100)(_.toByte)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.encodeBmp(payload)))
    assert(img != null, "JDK failed to decode the synthesized BMP")
    assert(img.getWidth === Multimodal.BmpWidth)
    assert(img.getHeight === 3) // ceil(100 / 48)
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
      val rgb = img.getRGB(x, y)
      sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
    }
    def expected(chan: Int) = (0 until 100).filter(_ % 3 == chan).map(_.toLong).sum
    assert(sb === expected(0))
    assert(sg === expected(1))
    assert(sr === expected(2))
    // the typed Dataset decode operator agrees with the direct decode
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(7L, Multimodal.encodeBmp(payload),
      "bmp", Multimodal.BmpWidth, 3)).toDS()
    val got = Multimodal.decodeImages(media).collect().head
    assert(got === Multimodal.DecodedImage(7L, 16, 3, 48L, sr, sg, sb))
    // empty payload: one all-zero row, decodes to zero sums
    val empty = Multimodal.decodeImages(Seq(Multimodal.MediaRow(8L,
      Multimodal.encodeBmp(Array.empty[Byte]), "bmp", 16, 1)).toDS()).collect().head
    assert(empty === Multimodal.DecodedImage(8L, 16, 1, 16L, 0L, 0L, 0L))
  }

  test("P3/P5/P6/P8: rename dictionary, drop Unnamed, strip separators, sparse rows") {
    val messy = Seq(
      ("junk", "junk", null.asInstanceOf[String], "junk"),
      ("Vietnam", "1,234", null.asInstanceOf[String], "5,678"),
      ("Brazil", "2,000", null.asInstanceOf[String], "9,000"),
      (null, null, null, null)
    ).toDF("country", "productio", "Unnamed: 3", "total.1")
    val out = Normalizer.normalizeUsdaExtract(messy)
    assert(out.columns.toSet === Set("country", "production", "total_distribute"))
    val rows = out.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows === Set(("Vietnam", "1234", "5678"), ("Brazil", "2000", "9000")))
  }

  test("P4: entirely-null column repaired from positional neighbor") {
    val messy = Seq(
      (null.asInstanceOf[String], "Vietnam", null.asInstanceOf[String], "10"),
      (null.asInstanceOf[String], "Brazil", null.asInstanceOf[String], "20")
    ).toDF("x", "country_src", "beginning", "production")
    // 'beginning' (all-null, not named country) copies NEXT column;
    // 'x' (all-null, first) copies next
    val out = Normalizer.repairNullColumnsFromNeighbor(messy)
    val r = out.collect().map(x => (x.getString(0), x.getString(2))).toSet
    assert(r === Set(("Vietnam", "10"), ("Brazil", "20")))
  }

  test("P9: space-fused column splits header and cells") {
    val messy = Seq(("Vietnam 123", 1), ("Brazil 456", 2))
      .toDF("Country Beginning", "other")
    val out = Normalizer.splitSpaceFusedColumns(messy)
    assert(out.columns.toSet === Set("other", "Country", "Beginning"))
    val rows = out.select("Country", "Beginning").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows === Set(("Vietnam", "123"), ("Brazil", "456")))
  }

  test("P11: block int cast") {
    val df = Seq(("a", "1", "2")).toDF("k", "x", "y")
    val out = Normalizer.castColumnsToInt(df, Seq("x", "y"))
    assert(out.schema("x").dataType === IntegerType)
    assert(out.schema("y").dataType === IntegerType)
    assert(out.schema("k").dataType === StringType)
  }

  // ------------------------------------------------------------------
  // As-of join edge cases
  // ------------------------------------------------------------------

  test("as-of join: inclusive <=, no match → null, ties pick right first") {
    import graft.operators.EventOps
    val clicks = Seq((1L, 100L, 10L), (1L, 50L, 11L), (2L, 10L, 12L))
      .toDF("user_id", "ts_s", "event_id")
    val purchases = Seq((1L, 100L), (1L, 40L), (2L, 20L))
      .toDF("user_id", "ts_s")
    val out = EventOps.asofLastRightTs(clicks, purchases, "user_id", "ts_s", "event_id")
      .select($"event_id", $"asof_t").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(10L).contains(100L)) // equal ts included
    assert(out(11L).contains(40L))  // strictly before
    assert(out(12L).isEmpty)        // purchase after click → none
  }

  // ------------------------------------------------------------------
  // Custom expression: SimHash64 / Hamming64
  // ------------------------------------------------------------------

  test("simhash64: near-dup texts land within few bits; unrelated far apart") {
    import graft.functions.SimHash._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy cat near the river bank today"),
      (3L, "spark shuffles partition exchanges broadcast joins aggregate codegen tungsten memory")
    ).toDF("id", "text")
    val h = df.select($"id", simhash64($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) <= 12)
    assert(ham(h(1L), h(3L)) > 16)
  }

  test("simhash64/hamming64 register for SQL and run through codegen") {
    graft.functions.SimHash.register(spark)
    val r = spark.sql(
      "SELECT simhash64('a b c') AS s, hamming64(simhash64('a b c'), simhash64('a b d')) AS h")
      .head()
    assert(r.getLong(0) === graft.functions.SimHashImpl.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b c")))
    assert(r.getLong(1) > 0 && r.getLong(1) < 64)
  }

  test("simhash near-dup property on the corpus: high-Jaccard LSH pairs are close in hamming") {
    import graft.functions.SimHash._
    val d = "/root/testdata/sf0.01"
    val pairs = graft.operators.TextOps.q24LshPairs(spark, d)
      .filter($"jaccard" > 0.8).select($"d1", $"d2")
    val hashes = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", simhash64($"text").as("sh"))
    val joined = pairs
      .join(hashes.select($"doc_id".as("d1"), $"sh".as("h1")), "d1")
      .join(hashes.select($"doc_id".as("d2"), $"sh".as("h2")), "d2")
      .select(hamming64($"h1", $"h2").as("ham"))
      .collect().map(_.getLong(0))
    assert(joined.nonEmpty)
    assert(joined.forall(_ <= 16), s"hamming distances: ${joined.mkString(",")}")
  }

  test("simhash-band near-dup pairs recover the MinHash pipeline's top pairs") {
    val d = "/root/testdata/sf0.01"
    val simPairs = graft.operators.TextOps.q44SimhashPairs(spark, d)
      .select($"d1", $"d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val strongJaccard = graft.operators.TextOps.q24LshPairs(spark, d)
      .filter($"jaccard" > 0.9).select($"d1", $"d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strongJaccard.nonEmpty)
    val recovered = (strongJaccard & simPairs).size.toDouble / strongJaccard.size
    assert(recovered >= 0.8,
      s"simhash bands recovered $recovered of ${strongJaccard.size} strong pairs")
  }

  // ------------------------------------------------------------------
  // UDAF: cent-grid mean Aggregator
  // ------------------------------------------------------------------

  test("q19 sketch: HLL++ approx within 3σ of exact (oracle asserts 5σ)") {
    import graft.sources.Tables
    val rows = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_partkey", 0.02).as("approx"),
        countDistinct($"l_partkey").as("exact"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (approx, exact) = (r.getAs[Long]("approx"), r.getAs[Long]("exact"))
      assert(math.abs(approx - exact) <= exact * 0.06,
        s"sketch off by >3σ for ${r.get(0)}: approx=$approx exact=$exact")
    }
  }

  test("driver corpora are ASCII (validity of the DuckDB simhash/byte oracles)") {
    // SimHash hashes UTF-8 BYTES; the DuckDB mirror walks CODE POINTS
    // via ascii(). They agree iff the corpus is ASCII — assert it.
    import graft.sources.Tables
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val nonAscii = Tables.documents(spark, d)
        .filter(length($"text") =!= octet_length($"text")).count()
      assert(nonAscii === 0L, s"non-ASCII documents in $d")
    }
  }

  test("IVF ANN: unique cell per vector; recall floor vs exact top-k") {
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val cells = VectorOps.q47IvfCells(spark, d).collect()
    val emb = graft.sources.Tables.embeddings(spark, d)
    // partition property: inverted lists cover the corpus exactly once
    assert(cells.map(_.getAs[Long]("n_vecs")).sum === emb.count())
    val exact = VectorOps.q27KnnCosine(spark, d).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = VectorOps.q48IvfAnn(spark, d).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = ivf.count(exact.contains).toDouble / exact.size
    // correctness is the DuckDB oracle (q48); this is the semantic sanity
    // bound — probing 2/16 cells of an ISOTROPIC corpus must still beat
    // the 12.5% random-candidate floor because neighbors share the
    // query's cell preference
    assert(recall >= 0.15, s"IVF recall $recall below sanity floor")
  }

  test("k-means refinement: partition conserved, seed census = q47, objective improves") {
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val ref = VectorOps.q65KmeansRefine(spark, d).collect()
    val n = graft.sources.Tables.embeddings(spark, d).count()
    assert(ref.length === 16)
    // both assignments are exact partitions of the corpus
    assert(ref.map(_.getAs[Long]("n0")).sum === n)
    assert(ref.map(_.getAs[Long]("n1")).sum === n)
    // the pass-1 census IS the q47 inverted-list census (same seeds,
    // same arg-max, same tie-break)
    val ivf = VectorOps.q47IvfCells(spark, d).collect()
      .map(r => r.getAs[Long]("cell_id") -> r.getAs[Long]("n_vecs")).toMap
    ref.foreach { r =>
      assert(r.getAs[Long]("n0") === ivf(r.getAs[Long]("cell_id")))
      val s = r.getAs[Double]("shift")
      assert(s >= 0.0 && s <= 2.0, s"cosine shift $s outside [0,2]")
    }
    // the Lloyd step improves the corpus-wide mean within-cell cosine
    // (not guaranteed for arbitrary data under cosine assignment + mean
    // update, but deterministic for THIS fixed corpus — a regression
    // check that the refinement actually refines)
    val w0 = ref.map(r => r.getAs[Long]("n0") * r.getAs[Double]("avg_cos0")).sum / n
    val w1 = ref.map(r => r.getAs[Long]("n1") * r.getAs[Double]("avg_cos1")).sum / n
    assert(w1 > w0, s"refinement did not improve mean cosine: $w0 -> $w1")
  }

  test("winnowing guarantee: docs sharing a (k+w-1)-char substring share a fingerprint") {
    import graft.operators.TextOps
    // k=8, w=4 → any common substring of length >= 11 guarantees a
    // common selected fingerprint (Schleimer et al. theorem 1)
    val shared = "zq7xw93kpv4" // 11 chars
    val docs = Seq(
      (1L, s"left padding one $shared trailing alpha"),
      (2L, s"other start two $shared different end beta"),
      (3L, "completely unrelated document text here")).toDF("doc_id", "text")
    val sels = TextOps.winnowSelections(docs)
      .select($"doc_id", $"sel").distinct().collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((sels(1L) & sels(2L)).nonEmpty, "shared substring produced no shared fingerprint")
    // rollup invariants
    val fps = TextOps.winnowFingerprints(docs).collect()
    fps.foreach { r =>
      assert(r.getAs[Long]("n_fps") <= r.getAs[Long]("n_kgrams"))
      assert(r.getAs[Long]("min_fp") <= r.getAs[Long]("max_fp"))
    }
  }

  test("dedup clustering: connected components over crafted pair graphs") {
    import graft.operators.TextOps
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12 with a redundant
    // edge, isolated pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("d1", "d2")
    val got = TextOps.dedupClusters(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Set(
      (1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L), (4L, 1L, 4L),
      (10L, 10L, 3L), (11L, 10L, 3L), (12L, 10L, 3L),
      (20L, 20L, 2L), (21L, 20L, 2L))
    assert(got === want)
  }

  test("native WinnowStats expression equals the declarative explode→window reference") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
    val native = TextOps.q49WinnowFingerprint(spark, d).collect().toSeq
    val reference = TextOps.winnowFingerprints(docs).collect().toSeq
    assert(native === reference)
    // and it stays inside whole-stage codegen (no explode/window in plan)
    val plan = TextOps.q49WinnowFingerprint(spark, d).queryExecution.executedPlan.toString
    assert(!plan.contains("Generate") && !plan.contains("Window"),
      s"native path still explodes/windows:\n$plan")
  }

  test("native WinnowFps equals the declarative distinct selection set; " +
      "q162 census surfaces a crafted shared passage") {
    import graft.operators.TextOps
    val dd = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dd)
    // the native fp ARRAY must be exactly the declarative stream's
    // distinct sel set, sorted ascending
    val native = docs
      .filter(length($"text") >= 8)
      .select($"doc_id", graft.functions.Winnow.winnowFps($"text").as("fps"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val reference = TextOps.winnowSelections(docs)
      .select($"doc_id", $"sel").distinct().collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).sorted.toSeq).toMap
    assert(native.keySet === reference.keySet)
    native.foreach { case (id, fps) =>
      assert(fps === reference(id), s"doc $id fingerprint set")
      assert(fps === fps.sorted, s"doc $id array not sorted")
    }
    // crafted corpus: the winnowing guarantee lifts to the census —
    // an 11-char (k+w-1) passage shared by docs 1,2 must appear as a
    // fingerprint with BOTH ids in range; doc 3 shares nothing crafted
    val base = java.nio.file.Files
      .createTempDirectory("graft_shared_passages").toString
    Seq(
      (1L, "left padding one zq7xw93kpv4 trailing alpha"),
      (2L, "other start two zq7xw93kpv4 different end beta"),
      (3L, "completely unrelated document text here"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/documents.parquet")
    val census = TextOps.q162SharedPassages(spark, base).collect()
    assert(census.exists(r => r.getAs[Long]("n_docs") === 2L &&
      r.getAs[Long]("min_doc") === 1L && r.getAs[Long]("max_doc") === 2L),
      s"crafted shared passage missing: ${census.mkString(";")}")
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("CentMean aggregator: exact cent arithmetic, partitioning-independent") {
    import graft.functions.Aggregators
    val df = Seq(("a", 1.005), ("a", 2.004), ("b", 10.10)).toDF("k", "v")
    val got = df.repartition(3).groupBy($"k")
      .agg(Aggregators.centMean($"v").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // IEEE: 1.005*100 = 100.4999… → floor(+0.5)=100; 2.004*100 = 200.39…
    // → 200; (100+200)/2/100 = 1.5 — matching the SQL mirror bit-for-bit
    // is the contract, not decimal intuition
    assert(got("a") === 1.5)
    assert(got("b") === 10.10)
  }

  // ------------------------------------------------------------------
  // Custom operator: TopKPerKey (LogicalPlan + Strategy + SparkPlan)
  // ------------------------------------------------------------------

  test("TopKPerKey equals the window row_number formulation") {
    import graft.plans.TopK
    val d = "/root/testdata/sf0.001"
    val li = graft.sources.Tables.lineitem(spark, d)
    val got = TopK.perKey(li, Seq($"l_suppkey"),
      Seq($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber", $"l_partkey"), k = 3)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_partkey")
      .collect().map(_.toSeq).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_suppkey")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber", $"l_partkey")
    val expect = li.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_partkey")
      .collect().map(_.toSeq).toSet
    assert(got === expect)
    assert(got.size === 30) // 10 suppliers x k=3
  }

  test("WindowTopKRewrite: row_number-filter pattern rewrites to TopKPerKey, results unchanged") {
    import graft.sources.Tables
    val d = "/root/testdata/sf0.001"
    def pattern = {
      // unique tie-break per the determinism contract
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"l_returnflag")
        .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
      Tables.lineitem(spark, d)
        .select($"l_returnflag", $"l_extendedprice", $"l_orderkey", $"l_linenumber")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"l_returnflag", $"l_extendedprice", $"l_orderkey")
    }
    val reference = pattern.collect().map(_.toSeq).toSet
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKStrategy
    spark.experimental.extraOptimizations = Seq(graft.plans.WindowTopKRewrite)
    try {
      val rewritten = pattern
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"), s"rewrite did not fire:\n$plan")
      assert(!plan.contains("Window"), s"window survived the rewrite:\n$plan")
      assert(rewritten.collect().map(_.toSeq).toSet === reference)
      // a query that KEEPS the rank column must NOT be rewritten
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy($"l_returnflag")
        .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
      val keepsRank = Tables.lineitem(spark, d)
        .select($"l_returnflag", $"l_extendedprice", $"l_orderkey", $"l_linenumber")
        .withColumn("rn", row_number().over(w2))
        .filter($"rn" <= 5)
        .select($"l_returnflag", $"rn")
      assert(keepsRank.queryExecution.executedPlan.toString.contains("Window"))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("TopKPerKey plans two phases around one exchange") {
    import graft.plans.TopK
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val plan = TopK.perKey(li, Seq($"l_suppkey"), Seq($"l_extendedprice".desc), 5)
      .queryExecution.executedPlan.toString
    assert("TopKPerKey".r.findAllIn(plan).length >= 2, plan)   // partial + final
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1, plan)
  }

  // ------------------------------------------------------------------
  // ANN quality: LSH recall vs exact brute force
  // ------------------------------------------------------------------

  test("LSH ANN: meaningful recall vs exact top-k with a bounded candidate set") {
    import graft.operators.{VectorOps => V}
    val d = "/root/testdata/sf0.001"
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = V.q27KnnCosine(spark, d)
      .select($"query_id", $"neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val ann = V.annQuery(spark, d, qids, k = 10, nPlanes = 3)
      .select($"query_id", $"neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // recall@10 averaged over queries — 8 buckets at n=500 means ~62
    // candidates/query (8x cheaper than brute force)
    val recalls = qids.map { q =>
      val e = exact(q)
      ann.get(q).map(a => (a & e).size.toDouble / e.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.2, s"mean recall@10 = $mean (per-query: $recalls)")
    // efficiency: candidate sets are a strict subset of the corpus
    val bucketSizes = V.q28AnnLshBuckets(spark, d)
      .agg(max($"n_vecs")).head().getLong(0)
    assert(bucketSizes < 500)
  }

  test("lshBucket: native expression equals the declarative HOF form, null semantics included") {
    import graft.functions.{Vectors => V}
    // pseudo-random float vectors with sign variety, a null element,
    // and a null vector — the native VecLshBucket must reproduce the
    // declarative md5-HOF bucket bit-for-bit (null vec / null element
    // land in bucket 0 both ways)
    val rows: Seq[(Long, Seq[java.lang.Float])] = (1 to 50).map { i =>
      (i.toLong, (0 until 48).map(j =>
        java.lang.Float.valueOf(
          (math.sin(i * 1.7 + j * 0.37) * (if ((i + j) % 4 == 0) -1 else 1)).toFloat)))
    } :+ (98L, (0 until 48).map(j =>
      if (j == 7) null.asInstanceOf[java.lang.Float]
      else java.lang.Float.valueOf(0.5f))) :+
      (99L, null.asInstanceOf[Seq[java.lang.Float]])
    val df = rows.toDF("vid", "emb")
      .select($"vid", $"emb".cast("array<float>").as("emb"))
    val both = df.select($"vid",
      V.lshBucket($"emb", 8).as("native"),
      coalesce(V.lshBucketDeclarative($"emb", 8), lit(0L)).as("declarative"))
      .collect()
    both.foreach { r =>
      assert(r.getLong(1) === r.getLong(2),
        s"vid ${r.getLong(0)}: native ${r.getLong(1)} != declarative ${r.getLong(2)}")
    }
    // doubles too (the other accepted element type)
    val dd = Seq((1L, (0 until 32).map(j => math.cos(j * 0.9) - 0.3)))
      .toDF("vid", "emb")
    val r2 = dd.select(V.lshBucket($"emb", 8).as("n"),
      V.lshBucketDeclarative($"emb", 8).as("d")).head()
    assert(r2.getLong(0) === r2.getLong(1))
  }

  test("cosine near-dup dedup finds crafted near pairs, skips unrelated") {
    import graft.operators.{VectorOps => V}
    val base = Array.tabulate(64)(i => math.sin(i * 0.7).toFloat)
    val near = base.clone(); near(0) += 0.01f // tiny perturbation
    val ortho = Array.tabulate(64)(i => math.cos(i * 1.3).toFloat)
    val df = Seq((1L, base.toSeq), (2L, near.toSeq), (3L, ortho.toSeq))
      .toDF("vid", "emb")
      .select($"vid", $"emb".cast("array<float>").as("emb"))
    val pairs = V.cosineNearDupPairs(df, "vid", "emb", threshold = 0.99)
      .select($"id", $"id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L))) // the planted near-dup, nothing else

    // round-16 exactly-once law (the removed post-join distinct was a
    // no-op): every candidate pair materializes exactly once even at
    // threshold -1 (no verify filter), including hamming-0 and
    // hamming-1 bucket pairs among many colliding vectors
    val soup = (1 to 40).map { i =>
      (100L + i, Array.tabulate(64)(j =>
        (math.sin(i * 0.31 + j * 0.7) * (if (i % 3 == 0) 1 else -1)).toFloat).toSeq)
    }.toDF("vid", "emb")
      .select($"vid", $"emb".cast("array<float>").as("emb"))
    val all = V.cosineNearDupPairs(soup, "vid", "emb", threshold = -1.0)
      .select($"id", $"id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(all.nonEmpty, "vacuous: no colliding candidates in the soup")
    assert(all.distinct.size === all.size,
      s"a candidate pair materialized more than once (${all.size} rows, " +
        s"${all.distinct.size} distinct)")
  }

  // ------------------------------------------------------------------
  // Multimodal stub plumbing
  // ------------------------------------------------------------------

  test("multimodal: decode stub features are normalized and deterministic") {
    import graft.multimodal.Multimodal
    val d = "/root/testdata/sf0.001"
    val media = Multimodal.mediaFromDocuments(spark, d)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length === 500)
    // histogram moments sum to 1 per payload
    assert(feats.forall(f => math.abs(f.feature.sum - 1.0f) < 1e-3))
    val again = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f.feature.toSeq).toMap
    assert(feats.forall(f => again(f.media_id) == f.feature.toSeq))
  }

  test("multimodal: resize stub bounds payload size and rewrites metadata") {
    import graft.multimodal.Multimodal
    val media = Multimodal.mediaFromDocuments(spark, "/root/testdata/sf0.001")
    val resized = Multimodal.resizeStub(media, maxBytes = 100).collect()
    assert(resized.forall(_.content.length <= 100))
    assert(resized.forall(r => r.width >= 1 && r.height >= 1))
    // identity path: payloads already under the cap pass through unchanged
    val identity = Multimodal.resizeStub(media, maxBytes = 1 << 20).collect()
      .map(m => m.media_id -> m.content.toSeq).toMap
    val orig = media.collect().map(m => m.media_id -> m.content.toSeq).toMap
    assert(identity === orig)
  }

  test("multimodal: frame sampling partitions payload bytes losslessly") {
    import graft.multimodal.Multimodal
    val media = Multimodal.mediaFromDocuments(spark, "/root/testdata/sf0.001")
      .limit(5)
    val frames = Multimodal.frameSample(media, 4)
    val byId = frames.collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).flatMap(_.getAs[Array[Byte]](2)).toSeq)
    val orig = media.collect().map(m => m.media_id -> m.content.toSeq).toMap
    assert(byId.toMap.forall { case (id, bytes) => bytes == orig(id) })
  }

  // ------------------------------------------------------------------
  // Driver-contract smoke (mirrors the t1 gate)
  // ------------------------------------------------------------------

  test("redaction: counts match an independent token-filter recomputation") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val got = TextOps.q66Redact(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_redacted")).toMap
    // independent mechanism: split on spaces and count blocklist tokens
    // (the query uses a word-boundary regex — same answer, different path)
    val bl = TextOps.Blocklist.toSet
    val exp = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ", -1).count(bl.contains).toLong).toMap
    assert(got === exp)
    assert(got.values.sum > 0, "blocklist never fired — vacuous test")
  }

  test("tf-idf: top-k per doc matches a brute-force recomputation") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val n = docs.size.toDouble
    val dfreq = docs.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size).toMap
    val expected = docs.flatMap { case (id, toks) =>
      toks.groupBy(identity).view.mapValues(_.size).toSeq
        .map { case (t, tf) =>
          val sg = math.floor(tf * math.log(n / dfreq(t)) * 1e6 + 0.5).toLong
          (id, t, sg)
        }
        .sortBy { case (_, t, sg) => (-sg, t) }.take(3)
    }.map { case (id, t, sg) => (id, t) }.toSet
    val got = TextOps.q67Tfidf(spark, d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"))).toSet
    assert(got === expected)
  }

  test("token entropy: gridded Shannon entropy matches brute force; uniform doc maxes") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val got = TextOps.q68TokenEntropy(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("entropy_nats"))).toMap
    graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"text").collect().foreach { r =>
        val toks = r.getString(1).split(" ", -1)
        val counts = toks.groupBy(identity).values.map(_.size)
        val sg = counts.map(c => math.floor(c * math.log(c.toDouble) * 1e6 + 0.5).toLong).sum
        val h = math.floor((math.log(toks.length.toDouble) - (sg / 1e6) / toks.length) * 1e6 + 0.5) / 1e6
        val (nTok, ent) = got(r.getLong(0))
        assert(nTok === toks.length.toLong)
        assert(ent === h, s"doc ${r.getLong(0)}")
        // entropy is bounded by ln(n_distinct) (uniform distribution max),
        // up to half a 1e-6 grid step of rounding
        assert(ent <= math.log(counts.size.toDouble) + 5e-7)
      }
  }

  test("quality bins: exact partition of the corpus with monotone boundaries") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val bins = TextOps.q69QualityBins(spark, d).collect()
    val n = graft.sources.Tables.documents(spark, d).count()
    assert(bins.map(_.getAs[Long]("n_docs")).sum === n)
    bins.foreach { b =>
      val id = b.getAs[Long]("bucket")
      assert(id >= 1 && id <= 10)
      assert(b.getAs[Double]("min_q") <= b.getAs[Double]("max_q"))
    }
    // value-based deciles: bucket ranges never overlap, in bucket order
    bins.sortBy(_.getAs[Long]("bucket")).sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Double]("max_q") < hi.getAs[Double]("min_q"))
      case _ =>
    }
  }

  test("z-order: interleave unit vectors; every bucket bounds both dimensions") {
    import graft.operators.Relational
    // unit checks on the interleave itself via a literal frame
    val df = Seq((1L, 0L), (0L, 1L), (3L, 3L), (1023L, 1023L))
      .toDF("zx", "zy")
      .select(Relational.zValue($"zx", $"zy").as("z")).collect().map(_.getLong(0))
    assert(df === Array(1L, 2L, 15L, (1L << 20) - 1))
    // bucket audit: a 2^14-wide z-range confines each 10-bit dim to 128
    val bins = Relational.q71ZOrder(spark, "/root/testdata/sf0.001").collect()
    assert(bins.nonEmpty)
    bins.foreach { b =>
      assert(b.getAs[Long]("max_x") - b.getAs[Long]("min_x") < 128)
      assert(b.getAs[Long]("max_y") - b.getAs[Long]("min_y") < 128)
    }
  }

  test("quota sample: exact per-source quotas, brute-force-identical membership") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val got = TextOps.q72QuotaSample(spark, d).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id")))
    val docs = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"source").collect()
      .map(r => (r.getString(1), r.getLong(0)))
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long): String =
      md5.digest(s"smp:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      rows.sortBy { case (_, id) => (key(id), id) }.take(10)
    }.toSet
    assert(got.toSet === expected)
    // every source hits its quota or its full size
    val sizes = docs.groupBy(_._1).view.mapValues(_.size).toMap
    got.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.length === math.min(10, sizes(src)))
    }
  }

  test("sliding windows: every event lands in exactly size/slide windows, starts on the slide grid") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val win = EventOps.q73SlidingWindow(spark, d).collect()
    val total = graft.sources.Tables.events(spark, d).count()
    // replication factor is exactly size/slide = 2
    assert(win.map(_.getAs[Long]("n_events")).sum === 2 * total)
    // all window starts align to the 30-minute slide grid
    win.foreach { r =>
      val mmss = r.getAs[String]("window_start").takeRight(5)
      assert(mmss == "00:00" || mmss == "30:00", s"off-grid window: $r")
    }
  }

  test("chunking: brute-force chunk equality, full coverage, overlap conservation") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val got = TextOps.q74Chunk(spark, d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        (r.getAs[Long]("n_chunk_tokens"), r.getAs[String]("chunk_fp"))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def fp(s: String) = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var checked = 0
    graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"text").collect().foreach { r =>
        val toks = r.getString(1).split(" ", -1)
        val n = toks.length
        val nc = if (n <= 32) 1 else 1 + math.ceil((n - 32) / 24.0).toLong
        val mine = got.filter(_._1._1 == r.getLong(0))
        assert(mine.size.toLong === nc, s"doc ${r.getLong(0)} chunk count")
        var covered = 0L
        (0L until nc).foreach { k =>
          val chunk = toks.slice((k * 24).toInt, (k * 24).toInt + 32)
          val (len, h) = mine((r.getLong(0), k))
          assert(len === chunk.length.toLong)
          assert(h === fp(chunk.mkString(" ")))
          covered += chunk.length
          checked += 1
        }
        // overlap conservation: total chunked tokens = n + 8*(nc-1)
        assert(covered === n + 8 * (nc - 1), s"doc ${r.getLong(0)} coverage")
      }
    assert(checked > 0)
  }

  test("gap-fill: complete spine, zero-order gap days carry the last observed total") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val rows = EventOps.q75GapFill(spark, d).collect()
    val prios = rows.map(_.getAs[String]("prio")).distinct
    val days = rows.map(_.getAs[String]("day")).distinct
    // the spine is the full cross product — every series covers every day
    assert(rows.length === prios.length * days.length)
    val gaps = rows.count(_.getAs[Long]("n_orders") == 0L)
    assert(gaps > 0, "no gap days at sf0.001 — LOCF untested")
    // independent recomputation of the daily totals from the raw orders
    // (same cent-grid arithmetic), then LOCF as a plain Scala fold
    val daily = graft.sources.Tables.orders(spark, d)
      .select($"o_orderpriority", to_date($"o_orderdate").cast("string"),
        $"o_totalprice").collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, rs) =>
        k -> rs.map(r => math.floor(r.getDouble(2) * 100.0 + 0.5).toLong).sum / 100.0 }
    rows.groupBy(_.getAs[String]("prio")).foreach { case (prio, rs) =>
      var lastSeen: Option[Double] = None
      rs.sortBy(_.getAs[String]("day")).foreach { r =>
        val day = r.getAs[String]("day")
        daily.get((prio, day)).foreach { exp =>
          assert(r.getAs[Long]("n_orders") > 0L)
          lastSeen = Some(exp)
        }
        if (!daily.contains((prio, day))) assert(r.getAs[Long]("n_orders") === 0L)
        val got = Option(r.get(r.fieldIndex("locf_total"))).map(_.asInstanceOf[Double])
        assert(got === lastSeen, s"LOCF mismatch at $r")
      }
    }
  }

  test("real resize: JDK round-trip halves dims and picks exactly the even-grid pixels") {
    import graft.multimodal.Multimodal
    // payload of 2 full rows (96 bytes) → 16×2 BMP → resized to 8×1
    val payload = Array.tabulate(96)(i => (i % 251).toByte)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(7L, Multimodal.encodeBmp(payload), "bmp", 16, 2)))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val out = Multimodal.decodeImages(Multimodal.resizeImages(media, 2)).collect()
    assert(out.length === 1)
    val img = out.head
    assert(img.width === 8 && img.height === 1 && img.n_pixels === 8L)
    // decoded row 0 of the source = stored row h-1 = bytes 48..95 (BMP
    // bottom-up); resized row 0 picks its even columns: byte triplets
    // at offsets 48 + 6k for k in 0..7, layout (B, G, R)
    val picks = (0 until 8).map(k => 48 + 6 * k)
    def u(b: Byte) = b & 0xff
    assert(img.sum_b === picks.map(p => u(payload(p))).sum.toLong)
    assert(img.sum_g === picks.map(p => u(payload(p + 1))).sum.toLong)
    assert(img.sum_r === picks.map(p => u(payload(p + 2))).sum.toLong)
  }

  test("product quantization: each subspace exactly partitions the corpus; codebook self-assigns") {
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val cells = VectorOps.q77Pq(spark, d).collect()
    val n = graft.sources.Tables.embeddings(spark, d)
      .filter($"embedding".isNotNull).count()
    (0L until 4L).foreach { m =>
      val mine = cells.filter(_.getAs[Long]("m") == m)
      assert(mine.map(_.getAs[Long]("n_vecs")).sum === n,
        s"subspace $m does not partition the corpus")
      mine.foreach { c =>
        assert(c.getAs[Long]("code") >= 0 && c.getAs[Long]("code") < 16)
        assert(c.getAs[Double]("avg_cos") <= 1.0 + 5e-7)
      }
    }
  }

  test("containment: directional ratios recomputed from raw shingle sets; quote case flags") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q78Containment(spark, d).collect()
    assert(rows.nonEmpty)
    // independent recomputation: 3-word shingle DISTINCT sets in Scala
    val docs = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ", -1).sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet).toMap
    rows.foreach { r =>
      val (a, b) = (docs(r.getAs[Long]("d1")), docs(r.getAs[Long]("d2")))
      val common = (a intersect b).size.toLong
      assert(r.getAs[Long]("n_common") === common)
      assert(r.getAs[Long]("n1") === a.size.toLong)
      assert(r.getAs[Long]("n2") === b.size.toLong)
      val expFlag = math.max(common.toDouble / a.size, common.toDouble / b.size) >= 0.8
      assert(r.getAs[Boolean]("near_superset") === expFlag)
    }
  }

  test("random projection: JL norm preservation holds on average; ratios positive") {
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val rows = VectorOps.q79RandomProjection(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("orig_n2") > 0.0)
      assert(r.getAs[Double]("norm_ratio") > 0.0)
    }
    // E[‖Rx‖²/k] = ‖x‖² for a ±1 JL matrix; with k=16 the corpus mean
    // concentrates — a sign-derivation bug (biased signs, wrong scale)
    // lands far outside this envelope
    val mean = rows.map(_.getAs[Double]("norm_ratio")).sum / rows.length
    assert(mean > 0.7 && mean < 1.3, s"mean norm ratio $mean")
  }

  test("correlation from exact moments matches a brute-force recomputation") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val got = Relational.q80CorrMoments(spark, d).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("corr")).toMap
    val rows = graft.sources.Tables.lineitem(spark, d)
      .select($"l_returnflag", $"l_extendedprice", $"l_quantity").collect()
      .map(r => (r.getString(0), math.floor(r.getDouble(1)).toLong, r.getDouble(2).toLong))
    rows.groupBy(_._1).foreach { case (flag, rs) =>
      val n = rs.length.toDouble
      val sx = rs.map(_._2).sum.toDouble; val sy = rs.map(_._3).sum.toDouble
      val sxy = rs.map(t => t._2 * t._3).sum.toDouble
      val sxx = rs.map(t => t._2 * t._2).sum.toDouble
      val syy = rs.map(t => t._3 * t._3).sum.toDouble
      val corr = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      assert(got(flag) >= -1.0 && got(flag) <= 1.0)
      assert(math.abs(got(flag) - corr) < 2e-6, s"flag $flag: ${got(flag)} vs $corr")
    }
  }

  test("funnel: stage counts monotone and equal to a per-user brute force") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val row = EventOps.q81Funnel(spark, d).collect().head
    val (nv, nc, np) = (row.getAs[Long]("n_view"),
      row.getAs[Long]("n_click"), row.getAs[Long]("n_purchase"))
    assert(nv >= nc && nc >= np && nv > 0)
    val evs = graft.sources.Tables.events(spark, d)
      .select($"user_id", $"event_type", $"ts".cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = evs.groupBy(_._1)
    def firstAfter(rs: Array[(Long, String, Long)], typ: String, after: Long) = {
      val c = rs.filter(t => t._2 == typ && t._3 > after).map(_._3)
      if (c.isEmpty) None else Some(c.min)
    }
    var (ev1, ev2, ev3) = (0L, 0L, 0L)
    byUser.foreach { case (_, rs) =>
      val t1 = firstAfter(rs, "view", Long.MinValue)
      if (t1.isDefined) {
        ev1 += 1
        val t2 = firstAfter(rs, "click", t1.get)
        if (t2.isDefined) {
          ev2 += 1
          if (firstAfter(rs, "purchase", t2.get).isDefined) ev3 += 1
        }
      }
    }
    assert((nv, nc, np) === ((ev1, ev2, ev3)))
  }

  test("retention: offset-0 equals cohort size; counts never exceed it; total users conserved") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val rows = EventOps.q82Retention(spark, d).collect()
    val totalUsers = graft.sources.Tables.events(spark, d)
      .select($"user_id").distinct().count()
    val byCohort = rows.groupBy(_.getAs[Long]("cohort_day"))
    // every user appears in exactly one cohort at offset 0
    val day0 = rows.filter(_.getAs[Long]("day_offset") == 0L)
    assert(day0.map(_.getAs[Long]("n_users")).sum === totalUsers)
    byCohort.foreach { case (_, rs) =>
      val size0 = rs.find(_.getAs[Long]("day_offset") == 0L)
        .map(_.getAs[Long]("n_users"))
      assert(size0.isDefined, "cohort missing its own first day")
      rs.foreach { r =>
        assert(r.getAs[Long]("day_offset") >= 0L)
        assert(r.getAs[Long]("n_users") <= size0.get)
      }
    }
  }

  test("grouping sets: each set matches its standalone aggregation") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q83GroupingSets(spark, d).collect()
    assert(rows.map(_.getAs[Long]("gid")).toSet === Set(0L, 1L, 3L))
    val li = graft.sources.Tables.lineitem(spark, d)
    // gid=0: the plain two-column group-by
    val fine = li.groupBy($"l_returnflag", $"l_linestatus").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.filter(_.getAs[Long]("gid") == 0L).foreach { r =>
      assert(fine((r.getString(0), r.getString(1))) === r.getAs[Long]("n_rows"))
    }
    // gid=1: linestatus aggregated away; gid=3: the grand total
    val byFlag = li.groupBy($"l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.filter(_.getAs[Long]("gid") == 1L).foreach { r =>
      assert(r.getString(1) === "-")
      assert(byFlag(r.getString(0)) === r.getAs[Long]("n_rows"))
    }
    val grand = rows.filter(_.getAs[Long]("gid") == 3L)
    assert(grand.length === 1 && grand.head.getAs[Long]("n_rows") === li.count())
  }

  test("rank family: tie semantics match a brute force on one partition") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q84RankFamily(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("rnk") >= r.getAs[Long]("drnk"))
      val p = r.getAs[Double]("prnk"); val c = r.getAs[Double]("cdist")
      assert(p >= 0.0 && p <= 1.0 && c > 0.0 && c <= 1.0)
      val o = r.getAs[Long]("octile"); assert(o >= 1L && o <= 8L)
    }
    // brute-force one partition: rank = 1 + #strictly-smaller,
    // dense_rank = 1 + #distinct-smaller, cume_dist = #(<=) / n
    val flag = rows.head.getString(0)
    val part = rows.filter(_.getString(0) == flag)
    val qs = part.map(_.getAs[Double]("l_quantity"))
    part.foreach { r =>
      val q = r.getAs[Double]("l_quantity")
      assert(r.getAs[Long]("rnk") === 1L + qs.count(_ < q))
      assert(r.getAs[Long]("drnk") === 1L + qs.filter(_ < q).distinct.length)
      assert(r.getAs[Double]("cdist") ===
        math.floor(qs.count(_ <= q).toDouble / qs.length * 1e6 + 0.5) / 1e6)
    }
  }

  test("median/mode: histogram order statistics equal a full sort") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val got = Relational.q85MedianMode(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    val evs = graft.sources.Tables.events(spark, d)
      .select($"event_type", $"value").collect()
      .map(r => (r.getString(0), math.floor(r.getDouble(1) * 100.0 + 0.5).toLong))
    evs.groupBy(_._1).foreach { case (typ, rs) =>
      val sorted = rs.map(_._2).sorted
      val lowerMedian = sorted((sorted.length - 1) / 2)
      val modeCents = rs.groupBy(_._2).view.mapValues(_.length).toSeq
        .maxBy { case (v, c) => (c, -v) }
      val r = got(typ)
      assert(r.getAs[Long]("n") === rs.length.toLong)
      assert(r.getAs[Double]("median_value") === lowerMedian / 100.0)
      assert(r.getAs[Double]("mode_value") === modeCents._1 / 100.0)
      assert(r.getAs[Long]("mode_count") === modeCents._2.toLong)
    }
  }

  test("edit distance: matches a textbook DP on the capped prefixes") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val txt = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", substring($"text", 1, 256).as("p")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = TextOps.q86EditDistance(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expected = lev(txt(r.getAs[Long]("d1")), txt(r.getAs[Long]("d2")))
      assert(r.getAs[Long]("edit_dist") === expected.toLong)
      val sim = r.getAs[Double]("edit_sim")
      assert(sim >= 0.0 && sim <= 1.0)
    }
  }

  test("markup strip: every document recovers its original text exactly") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q87MarkupStrip(spark, d).collect()
    assert(rows.nonEmpty)
    val theCounts = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ").count(_ == "the").toLong).toMap
    rows.foreach { r =>
      assert(r.getAs[Boolean]("recovered_ok"),
        s"doc ${r.getLong(0)}: strip(mark(text)) != text")
      // every standalone "the" became exactly one anchor
      assert(r.getAs[Long]("n_links") === theCounts(r.getLong(0)))
      val ratio = r.getAs[Double]("markup_ratio")
      assert(ratio > 0.0 && ratio < 1.0)
    }
  }

  test("split: partitions the corpus, near the 80/10/10 design") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q88Split(spark, d).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val nDocs = graft.sources.Tables.documents(spark, d).count()
    assert(total === nDocs) // every doc in exactly one split
    val bySplit = rows.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    // md5-uniform: train fraction concentrates near 0.8 (±3σ ≈ ±0.17
    // at n=50) — a biased key derivation lands far outside
    val trainFrac = bySplit.getOrElse("train", 0L).toDouble / nDocs
    assert(trainFrac > 0.6 && trainFrac < 0.95, s"train fraction $trainFrac")
  }

  test("count-min: one-sided error and exactness when no collision") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q89CountMin(spark, d).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("overest_ok"))
      assert(r.getAs[Long]("estimate") >= r.getAs[Long]("exact"))
    }
    // the estimate is bounded by exact + (total mass)/width per row and
    // the min over 4 independent rows is usually much tighter; with
    // ~20k tokens over 1024 buckets the top term's overestimate stays
    // far below its own count — a bucketing bug (all terms in one cell)
    // would blow this up by orders of magnitude
    val top = rows.head
    assert(top.getAs[Long]("estimate") < top.getAs[Long]("exact") * 3)
  }

  test("z-score outliers: match a brute force from the same grid") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val got = EventOps.q90ZscoreOutliers(spark, d).collect()
      .map(r => r.getAs[Long]("event_id")).toSet
    val evs = graft.sources.Tables.events(spark, d)
      .select($"event_id", $"event_type", $"value").collect()
      .map(r => (r.getLong(0), r.getString(1),
        math.floor(r.getDouble(2) * 100.0 + 0.5).toLong))
    val expected = evs.groupBy(_._2).valuesIterator.flatMap { rs =>
      val n = rs.length.toDouble
      val sx = rs.map(_._3).sum.toDouble
      val sxx = rs.map(t => t._3 * t._3).sum.toDouble
      val mean = sx / n / 100.0
      val sd = math.sqrt((n * sxx - sx * sx) / (n * n)) / 100.0
      rs.filter(t => sd > 0.0 &&
        math.abs((t._3 / 100.0 - mean) / sd) > 3.0).map(_._1)
    }.toSet
    assert(got === expected)
  }

  test("autocorr: equals Pearson r over the brute-force lag pairs") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val got = EventOps.q91Autocorr(spark, d).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("autocorr_lag1")).toMap
    val daily = graft.sources.Tables.events(spark, d)
      .select($"event_type", $"ts".cast("long").as("sec")).collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400L))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((typ, day), n) => (typ, day, n) }
    daily.groupBy(_._1).foreach { case (typ, rs) =>
      val series = rs.sortBy(_._2).map(_._3)
      val pairs = series.zip(series.tail).map { case (y, x) => (x, y) }
      val n = pairs.length.toDouble
      val sx = pairs.map(_._1).sum.toDouble; val sy = pairs.map(_._2).sum.toDouble
      val sxy = pairs.map(t => t._1 * t._2).sum.toDouble
      val sxx = pairs.map(t => t._1 * t._1).sum.toDouble
      val syy = pairs.map(t => t._2 * t._2).sum.toDouble
      val r = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      assert(math.abs(got(typ) - r) < 2e-6, s"$typ: ${got(typ)} vs $r")
      assert(got(typ) >= -1.0 && got(typ) <= 1.0)
    }
  }

  test("source overlap: estimates bounded and exact on identical sketches") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q92SourceOverlap(spark, d).collect()
    val nSources = graft.sources.Tables.documents(spark, d)
      .select($"source").distinct().count()
    assert(rows.length === (nSources * (nSources - 1) / 2).toInt)
    rows.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      assert(est >= 0.0 && est <= 1.0)
      assert(r.getAs[Long]("n_shared") <= 64L)
    }
  }

  test("novelty: first-occurrence fractions match a sequential replay") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val got = TextOps.q93Novelty(spark, d).collect()
      .map(r => r.getLong(0) -> r).toMap
    // sequential replay in doc_id order: a shingle is novel for the
    // first doc that contributes it
    val docs = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val seen = scala.collection.mutable.Set[String]()
    docs.foreach { case (id, text) =>
      val toks = text.split(" ")
      if (toks.length >= 3) {
        val shingles = toks.sliding(3).map(_.mkString(" ")).toSet
        val novel = shingles.count(sh => !seen.contains(sh))
        shingles.foreach(seen.add)
        val r = got(id)
        assert(r.getAs[Long]("n_shingles") === shingles.size.toLong)
        assert(r.getAs[Long]("n_novel") === novel.toLong, s"doc $id")
      } else assert(!got.contains(id))
    }
    // the lowest doc id is 100% novel by construction
    assert(got(docs.head._1).getAs[Double]("novelty") === 1.0)
  }

  test("label outliers: centroids conserve vectors; flags are sane") {
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val rows = VectorOps.q94LabelOutliers(spark, d).collect()
    val nVecs = graft.sources.Tables.embeddings(spark, d)
      .filter($"embedding".isNotNull && $"label".isNotNull).count()
    assert(rows.map(_.getAs[Long]("n")).sum === nVecs)
    rows.foreach { r =>
      val mean = r.getAs[Double]("mean_d2"); val mx = r.getAs[Double]("max_d2")
      assert(mean > 0.0 && mx >= mean)
      val nFar = r.getAs[Long]("n_far")
      assert(nFar >= 0L && nFar < r.getAs[Long]("n"))
      // flags exist iff some vector exceeds 2x the mean
      assert((mx > 2.0 * mean) === (nFar > 0L))
    }
  }

  test("conversion lag: histogram mass equals the brute-force pair count") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val rows = EventOps.q95ConversionLag(spark, d).collect()
    val evs = graft.sources.Tables.events(spark, d)
      .select($"user_id", $"event_type", $"ts".cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = evs.groupBy(_._1).valuesIterator.flatMap { rs =>
      val views = rs.filter(_._2 == "view").map(_._3)
      if (views.isEmpty) None
      else {
        val tv = views.min
        val ps = rs.filter(t => t._2 == "purchase" && t._3 >= tv).map(_._3)
        if (ps.isEmpty) None else Some((ps.min - tv) / 86400L)
      }
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
  }

  test("range frame: gap-aware rolling sums match a value-window replay") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val rows = EventOps.q96RangeFrame(spark, d).collect()
    val daily = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    rows.foreach { r =>
      val (typ, day) = (r.getString(0), r.getLong(1))
      val inFrame = daily(typ).filter { case (d2, _) => d2 >= day - 6 && d2 <= day }
      assert(r.getAs[Long]("roll7_sum") === inFrame.values.sum)
      assert(r.getAs[Long]("roll7_days") === inFrame.size.toLong)
      assert(r.getAs[Long]("frame_start_day") === inFrame.keys.min)
    }
    // nth_value: the global second-best count per type, null only on the
    // single best row
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val sorted = rs.map(r => (r.getLong(2), -r.getLong(1))).sortBy(t => (-t._1, -t._2))
      val secondBest = sorted(1)._1
      val withVal = rs.filter(!_.isNullAt(rs.head.fieldIndex("second_best")))
      assert(withVal.length === rs.length - 1)
      assert(withVal.forall(_.getAs[Long]("second_best") === secondBest)
        || rs.length < 2)
    }
  }

  test("weighted quality: cutoffs split token mass at the right fractions") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q97WeightedQuality(spark, d).collect()
    assert(rows.nonEmpty)
    import graft.functions.Text
    val docs = graft.sources.Tables.documents(spark, d)
      .select($"lang",
        (floor(Text.qualityScore($"text") * 1e4 + 0.5) / 1e4).as("q"),
        Text.tokenCount($"text").cast("long").as("tk"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    rows.foreach { r =>
      val lang = r.getString(0)
      val mine = docs.filter(_._1 == lang)
      val total = mine.map(_._3).sum
      assert(r.getAs[Long]("total_tokens") === total)
      val q50 = r.getAs[Double]("q50"); val q90 = r.getAs[Double]("q90")
      assert(q50 <= q90) // weighted CDF is monotone
      // the exact weighted-quantile property: at least half the token
      // mass sits at or below the 50% cutoff, strictly less than half
      // strictly below it (and likewise at 90%)
      def mass(p: Double)(keep: Double => Boolean): Long =
        mine.filter(t => keep(t._2)).map(_._3).sum
      assert(mass(q50)(_ <= q50) * 2 >= total)
      assert(mass(q50)(_ < q50) * 2 < total)
      assert(mass(q90)(_ <= q90) * 10 >= total * 9)
      assert(mass(q90)(_ < q90) * 10 < total * 9)
    }
  }

  test("snapshot diff: classes partition customers and deltas reconcile") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q98SnapshotDiff(spark, d).collect()
    assert(rows.nonEmpty)
    // every customer with any order appears exactly once
    val nCust = graft.sources.Tables.orders(spark, d)
      .select($"o_custkey").distinct().count()
    assert(rows.length.toLong === nCust)
    rows.foreach { r =>
      val (st, on, nn) =
        (r.getString(1), r.getAs[Long]("old_n"), r.getAs[Long]("new_n"))
      st match {
        case "new"      => assert(on === 0L && nn > 0L)
        case "churned"  => assert(on > 0L && nn === 0L)
        case "retained" => assert(on > 0L && nn > 0L)
      }
    }
    // the deltas reconcile to the overall new-minus-old total in cents
    val cents = graft.sources.Tables.orders(spark, d)
      .select(date_format($"o_orderdate", "yyyy-MM-dd").as("dt"),
        floor($"o_totalprice" * 100.0 + 0.5).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expect = cents.collect { case (dt, c) if dt >= "1998-04-01" => c }.sum -
      cents.collect { case (dt, c) if dt < "1998-04-01" => c }.sum
    val got = math.round(rows.map(_.getAs[Double]("delta")).sum * 100.0)
    assert(got === expect)
  }

  test("segment dedup: winners are globally unique and census conserves") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q99SegmentDedup(spark, d).collect()
    assert(rows.nonEmpty)
    // brute-force replay: first (doc_id, seg_idx) occurrence of each
    // distinct segment wins; everything else is dropped
    val docs = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
      .sortBy(_._1)
    val segs = docs.flatMap { case (id, toks) =>
      toks.grouped(8).zipWithIndex.map { case (sg, i) => (id, i, sg) }
    }
    val firstOf = segs.groupBy(_._3).view
      .mapValues(os => os.map(o => (o._1, o._2)).min).toMap
    val expect = segs.groupBy(_._1).map { case (id, os) =>
      val kept = os.filter(o => firstOf(o._3) == ((o._1, o._2)))
      id -> (os.size.toLong, kept.size.toLong,
        os.map(_._3.size.toLong).sum, kept.map(_._3.size.toLong).sum)
    }
    rows.foreach { r =>
      val e = expect(r.getLong(0))
      assert((r.getAs[Long]("n_segs"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("kept_tokens")) === e)
    }
    // token conservation: kept + dropped = corpus total
    assert(rows.map(_.getAs[Long]("n_tokens")).sum ===
      docs.map(_._2.size.toLong).sum)
  }

  test("transitions: counts match a per-user sequential replay") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val rows = EventOps.q100Transitions(spark, d).collect()
    assert(rows.nonEmpty)
    val evs = graft.sources.Tables.events(spark, d)
      .select($"user_id", $"ts".cast("long"), $"event_id", $"event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expect = evs.groupBy(_._1).valuesIterator.flatMap { rs =>
      val ord = rs.sortBy(t => (t._2, t._3)).map(_._4)
      ord.zip(ord.drop(1))
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n"))
      .toMap === expect)
    // row-probabilities: ppm of each from-row sums to ~1e6 (floor loss < |tos|)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val s = rs.map(_.getAs[Long]("prob_ppm")).sum
      assert(s <= 1000000L && s > 1000000L - rs.length)
    }
  }

  test("log parse: every line round-trips and money reconciles") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val rows = EventOps.q101LogParse(spark, d).collect()
    assert(rows.nonEmpty)
    val ev = graft.sources.Tables.events(spark, d)
      .select($"event_type", floor($"value" * 100.0 + 0.5).as("c")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    rows.foreach { r =>
      val typ = r.getString(0)
      val mine = ev.filter(_._1 == typ)
      // the parse is total: every rendered line parses back exactly
      assert(r.getAs[Long]("n_lines") === mine.length.toLong)
      assert(r.getAs[Long]("n_roundtrip") === mine.length.toLong)
      assert(math.round(r.getAs[Double]("sum_value") * 100.0) === mine.map(_._2).sum)
    }
    assert(rows.map(_.getAs[Long]("n_lines")).sum === ev.length.toLong)
  }

  test("unigram LM: surprisal matches a brute-force model within grid") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q102UnigramLm(spark, d).collect()
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val cf = docs.flatMap(_._2).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val bigN = cf.values.sum.toDouble
    rows.foreach { r =>
      val toks = docs.find(_._1 == r.getLong(0)).get._2
      assert(r.getAs[Long]("n_tokens") === toks.size.toLong)
      val exact = toks.map(t => math.log(bigN) - math.log(cf(t).toDouble))
        .sum / toks.size
      // grid error bound: two 1e-6 grids + final round
      assert(math.abs(r.getAs[Double]("surprisal_nats") - exact) < 3e-6)
    }
    // a doc of pure top-frequency tokens would score below the corpus
    // mean; sanity: scores are positive and bounded by ln N
    rows.foreach { r =>
      val sNats = r.getAs[Double]("surprisal_nats")
      assert(sNats > 0.0 && sNats <= math.log(bigN))
    }
  }

  test("profile: per-column stats match standalone recomputation") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q103Profile(spark, d).collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
    val li = graft.sources.Tables.lineitem(spark, d)
    rows.foreach { r =>
      val c = r.getString(0)
      val vals = li.select((floor(col(c) * 100.0 + 0.5) / 100.0).as("v"))
        .collect().map(_.getDouble(0))
      assert(r.getAs[Long]("n_rows") === vals.length.toLong)
      assert(r.getAs[Long]("n_null") === 0L)
      assert(r.getAs[Long]("n_distinct") ===
        li.select(col(c)).distinct().count())
      assert(r.getAs[Double]("min_v") === vals.min)
      assert(r.getAs[Double]("max_v") === vals.max)
    }
  }

  test("weighted sample: matches brute-force ES ranking and favors weight") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q105WeightedSample(spark, d).collect()
    assert(rows.length === 100)
    // brute-force replay of the priority key
    val docs = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong))
      .filter(_._2 > 0)
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val pri = docs.map { case (id, w) =>
      val u = (java.lang.Long.parseLong(md5hex(s"ws:$id").take(8), 16) + 0.5) /
        4294967296.0
      (id, w, math.floor(math.log(u) * 1e6 + 0.5).toLong.toDouble / w)
    }
    val expect = pri.sortBy(t => (-t._3, t._1)).take(100).map(_._1).toSeq
    assert(rows.map(_.getLong(0)).toSeq === expect)
    // ES property: the sample over-represents heavy docs vs uniform
    val sampleMean = rows.map(_.getAs[Long]("n_tokens")).sum.toDouble / 100
    val corpusMean = docs.map(_._2).sum.toDouble / docs.length
    assert(sampleMean > corpusMean)
  }

  test("incremental agg: partial-state merge equals the full recompute") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val merged = Relational.q106IncrementalAgg(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_orders"), r.getAs[Double]("total"))).toMap
    val full = graft.sources.Tables.orders(spark, d)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        (sum(floor($"o_totalprice" * 100.0 + 0.5)) / 100.0).as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(merged === full)
  }

  test("basket pairs: counts match a brute-force basket replay") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val rows = EventOps.q107BasketPairs(spark, d).collect()
    assert(rows.nonEmpty)
    val baskets = graft.sources.Tables.events(spark, d)
      .select($"user_id", floor($"ts".cast("long") / 86400L).cast("long"),
        $"event_type")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nb = baskets.size.toLong
    val expect = baskets.values.flatMap { ts =>
      ts.toSeq.sorted.combinations(2).map(p => (p(0), p(1)))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.map(r => (r.getString(0), r.getString(1)) ->
      r.getAs[Long]("n_baskets_with_pair")).toMap === expect)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_baskets") === nb)
      assert(r.getAs[Long]("support_ppm") ===
        r.getAs[Long]("n_baskets_with_pair") * 1000000L / nb)
    }
  }

  test("nested arrays: order is the (tsec, event_id) replay per basket") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val rows = EventOps.q108NestedArrays(spark, d).collect()
    assert(rows.nonEmpty)
    val evs = graft.sources.Tables.events(spark, d)
      .select($"user_id", $"ts".cast("long"), $"event_id", $"event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expect = evs.groupBy(e => (e._1, e._2 / 86400L)).view.mapValues { es =>
      es.sortBy(e => (e._2, e._3)).map(_._4).toSeq
    }.toMap
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val types = expect(key)
      assert(r.getAs[Long]("n_events") === types.length.toLong)
      assert(r.getAs[Long]("n_distinct_types") === types.distinct.length.toLong)
      assert(r.getAs[Boolean]("has_purchase") === types.contains("purchase"))
      assert(r.getAs[String]("first3") === types.take(3).mkString(","))
    }
    assert(rows.length === expect.size)
  }

  test("checksum: partition-invariant, and one flipped cent changes it") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val base = Relational.q109Checksum(spark, d).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("fingerprint")).toMap
    assert(base.nonEmpty)
    // partition invariance: the same rows through a different layout
    // give the identical fingerprints (abelian-group aggregation)
    val reparted = {
      val orig = graft.sources.Tables.orders(spark, d)
      val row = concat_ws("|",
        $"o_orderkey".cast("string"), $"o_custkey".cast("string"),
        $"o_orderstatus",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long").cast("string"),
        date_format($"o_orderdate", "yyyy-MM-dd"), $"o_orderpriority")
      orig.repartition(13, $"o_custkey")
        .select($"o_orderpriority",
          conv(substring(md5(row), 1, 15), 16, 10).cast("long").as("rh"))
        .groupBy($"o_orderpriority")
        .agg(expr("bit_xor(rh)").as("fp"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(reparted === base)
    // sensitivity: corrupt ONE row by one cent and the group flips
    val corrupted = {
      val orig = graft.sources.Tables.orders(spark, d)
        .withColumn("o_totalprice",
          when($"o_orderkey" === 1L, $"o_totalprice" + 0.01)
            .otherwise($"o_totalprice"))
      val row = concat_ws("|",
        $"o_orderkey".cast("string"), $"o_custkey".cast("string"),
        $"o_orderstatus",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long").cast("string"),
        date_format($"o_orderdate", "yyyy-MM-dd"), $"o_orderpriority")
      orig.select($"o_orderpriority",
          conv(substring(md5(row), 1, 15), 16, 10).cast("long").as("rh"))
        .groupBy($"o_orderpriority")
        .agg(expr("bit_xor(rh)").as("fp"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val prio1 = graft.sources.Tables.orders(spark, d)
      .filter($"o_orderkey" === 1L).select($"o_orderpriority")
      .head().getString(0)
    assert(corrupted(prio1) !== base(prio1))
    assert((corrupted - prio1) === (base - prio1))
  }

  test("pagerank: matches a driver-side power-iteration replay") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val rows = EventOps.q110Pagerank(spark, d).collect()
    assert(rows.nonEmpty)
    // brute-force replay with the same grid arithmetic
    val evs = graft.sources.Tables.events(spark, d)
      .select($"user_id", $"ts".cast("long"), $"event_id", $"event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val edges = evs.groupBy(_._1).valuesIterator.flatMap { rs =>
      val ord = rs.sortBy(t => (t._2, t._3)).map(_._4)
      ord.zip(ord.drop(1))
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val outW = edges.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nodes = (edges.keys.map(_._1) ++ edges.keys.map(_._2)).toSet.toSeq.sorted
    val nn = nodes.length
    var rank = nodes.map(_ -> math.floor(1000000000.0 / nn).toLong).toMap
    (1 to 3).foreach { _ =>
      val contribs = edges.toSeq.map { case ((s0, d0), n) =>
        d0 -> math.floor(rank(s0) * n.toDouble / outW(s0)).toLong
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      rank = nodes.map { v =>
        v -> (math.floor(150000000.0 / nn).toLong +
          math.floor(contribs.getOrElse(v, 0L) * 85.0 / 100.0).toLong)
      }.toMap
    }
    assert(rows.map(r => r.getString(0) -> r.getAs[Long]("rank_ppb")).toMap === rank)
    // mass check: floor losses only ever shrink the total below 1e9
    val total = rows.map(_.getAs[Long]("rank_ppb")).sum
    assert(total <= 1000000000L && total > 900000000L)
    // output ordering is rank-desc with node tie-break
    assert(rows.map(_.getAs[Long]("rank_ppb")).toSeq ===
      rows.map(_.getAs[Long]("rank_ppb")).sortBy(-_).toSeq)
  }

  test("concurrency: two-phase sweep matches a single-pass sequential replay") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val rows = EventOps.q111Concurrency(spark, d).collect()
    assert(rows.nonEmpty)
    val evs = graft.sources.Tables.events(spark, d)
      .select($"event_type", $"event_id", $"ts".cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.foreach { r =>
      val typ = r.getString(0)
      val mine = evs.filter(_._1 == typ)
      assert(r.getAs[Long]("n_events") === mine.length.toLong)
      // single-pass sweep: deltas in (t, delta, id) order, running max
      val deltas = mine.flatMap { case (_, id, t) =>
        Seq((t, 1, id), (t + 300L, -1, id)) }
        .sortBy { case (t, dl, id) => (t, dl, id) }
      var cur = 0L; var mx = 0L
      deltas.foreach { case (_, dl, _) => cur += dl; if (cur > mx) mx = cur }
      assert(r.getAs[Long]("max_concurrent") === mx,
        s"$typ: peak concurrency mismatch")
    }
  }

  test("cumulative users: running distinct matches set-union replay") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val rows = EventOps.q112CumulativeUsers(spark, d).collect()
    assert(rows.nonEmpty)
    val evs = graft.sources.Tables.events(spark, d)
      .select(date_format($"ts", "yyyy-MM-dd"), $"user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byDay = evs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val seen = scala.collection.mutable.Set.empty[Long]
    byDay.keys.toSeq.sorted.zip(rows).foreach { case (day, r) =>
      assert(r.getString(0) === day)
      assert(r.getAs[Long]("n_active") === byDay(day).size.toLong)
      val fresh = byDay(day) -- seen
      assert(r.getAs[Long]("n_new") === fresh.size.toLong)
      seen ++= byDay(day)
      assert(r.getAs[Long]("users_to_date") === seen.size.toLong)
    }
  }

  test("constraint audit: counts match standalone recomputation; non-vacuous") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q113ConstraintAudit(spark, d).collect()
    assert(rows.length === 6)
    val byName = rows.map(r =>
      r.getString(0) -> (r.getAs[Long]("n_violations"), r.getBoolean(3))).toMap
    val negBal = graft.sources.Tables.customer(spark, d)
      .filter($"c_acctbal" < 0.0).count()
    assert(byName("customer_acctbal_nonneg") === ((negBal, negBal == 0L)))
    // this dataset has negative balances — the audit must FIRE, not
    // just rubber-stamp
    assert(negBal > 0 && !byName("customer_acctbal_nonneg")._2)
    assert(byName("orders_pk_unique") === ((0L, true)))
    assert(byName("lineitem_fk_orders") === ((0L, true)))
    assert(byName("lineitem_qty_range") === ((0L, true)))
  }

  test("dead letter: routing conserves rows and ok-rows all round-trip") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val rows = EventOps.q114DeadLetter(spark, d).collect()
    assert(rows.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    def corrupt(id: Long): Boolean = {
      val hex = md.digest(s"dl$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 20 == 0
    }
    val evs = graft.sources.Tables.events(spark, d)
      .select($"event_id", $"event_type",
        floor($"value" * 100.0 + 0.5).cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = evs.groupBy(e => (if (corrupt(e._1)) "dead" else "ok", e._2))
    rows.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val mine = expected(key)
      assert(r.getAs[Long]("n_lines") === mine.length.toLong)
      if (key._1 == "ok") {
        // every valid line parses back exactly: count AND cents match
        assert(r.getAs[Long]("n_roundtrip") === mine.length.toLong)
        assert(r.getAs[Long]("cents_recovered") === mine.map(_._3).sum)
      } else {
        assert(r.getAs[Long]("n_roundtrip") === 0L)
        assert(r.getAs[Long]("cents_recovered") === 0L)
      }
    }
    // conservation: routed lines = source rows, and corruption really fires
    assert(rows.map(_.getAs[Long]("n_lines")).sum === evs.length.toLong)
    assert(rows.exists(_.getString(0) == "dead"), "no corrupted lines at all")
  }

  test("histogram: bucket assignment matches integer replay; mass conserved") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q115Histogram(spark, d).collect()
    assert(rows.nonEmpty)
    val cents = graft.sources.Tables.lineitem(spark, d)
      .select($"l_returnflag", floor($"l_extendedprice" * 100.0 + 0.5)
        .cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val minc = cents.map(_._2).min
    val maxc = cents.map(_._2).max
    val span = maxc - minc + 1
    val expect = cents.groupBy { case (f, c) =>
      (f, math.min((c - minc) * 20L / span, 19L))
    }.view.mapValues(_.size.toLong).toMap
    assert(rows.map(r => (r.getString(0), r.getAs[Long]("bucket")) ->
      r.getAs[Long]("n")).toMap === expect)
    assert(rows.map(_.getAs[Long]("n")).sum === cents.length.toLong)
    assert(rows.forall(r => r.getAs[Long]("bucket") >= 0 &&
      r.getAs[Long]("bucket") < 20))
  }

  test("MAD outliers: median/MAD/flags match a full-sort replay") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q116MadOutliers(spark, d).collect()
    assert(rows.nonEmpty)
    val evs = graft.sources.Tables.events(spark, d)
      .select($"event_type", floor($"value" * 100.0 + 0.5).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def medOf(xs: Seq[Long]): Long = {
      // lowest value whose cumulative count reaches half the mass (the
      // q85 histogram order statistic): smallest i with 2(i+1) >= n
      val sorted = xs.sorted
      sorted((xs.size + 1) / 2 - 1)
    }
    rows.foreach { r =>
      val typ = r.getString(0)
      val mine = evs.filter(_._1 == typ).map(_._2)
      val med = medOf(mine)
      val devs = mine.map(c => math.abs(c - med))
      val mad = medOf(devs)
      assert(r.getAs[Long]("n") === mine.size.toLong)
      assert(r.getAs[Double]("median_value") === med / 100.0)
      assert(r.getAs[Double]("mad_value") === mad / 100.0)
      assert(r.getAs[Long]("n_outliers") ===
        devs.count(_ > 3L * mad).toLong)
    }
  }

  test("A/B lift: arms, rates, and z match an md5-replay") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val r = EventOps.q117AbLift(spark, d).collect().head
    val md = java.security.MessageDigest.getInstance("MD5")
    def isA(uid: Long): Boolean = {
      val hex = md.digest(s"ab$uid".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 2 == 0
    }
    val conv = graft.sources.Tables.events(spark, d)
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase" && $"value" > 90.0, 1L)
        .otherwise(0L)).as("c"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val (a, b) = conv.partition(u => isA(u._1))
    assert(r.getAs[Long]("n_a") === a.length.toLong)
    assert(r.getAs[Long]("conv_a") === a.map(_._2).sum)
    assert(r.getAs[Long]("n_b") === b.length.toLong)
    assert(r.getAs[Long]("conv_b") === b.map(_._2).sum)
    val (na, ca, nb, cb) =
      (a.length.toDouble, a.map(_._2).sum.toDouble,
        b.length.toDouble, b.map(_._2).sum.toDouble)
    val pp = (ca + cb) / (na + nb)
    val z = (ca / na - cb / nb) /
      math.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    assert(math.abs(r.getAs[Double]("z_stat") - z) < 2e-6)
    // both arms populated and the experiment is non-degenerate
    assert(a.nonEmpty && b.nonEmpty && pp > 0.0 && pp < 1.0)
  }

  test("URL canon: every canonical string matches a parse replay") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q118UrlCanon(spark, d).collect()
    assert(rows.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h8(sel: String): Long = java.lang.Long.parseLong(
      md.digest(sel.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 8), 16)
    def h60(sel: String): Long = java.lang.Long.parseLong(
      md.digest(sel.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16)
    val docs = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"source", coalesce($"lang", lit("und"))).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expected = docs.map { case (id, src, lang) =>
      val upperHost = h8(s"uh:$id") % 2 == 0
      val host = if (upperHost) s"WWW.${src.toUpperCase}.EXAMPLE.COM"
        else s"www.$src.example.com"
      val port = if (h8(s"up:$id") % 3 == 0) ":80" else ""
      val url = s"http://$host$port/docs/$id?z=$lang&a=${id % 7}#sec${id % 5}"
      // independent canonicalization replay (string surgery, no regex)
      val hostOut = host.toLowerCase
      val canon = s"http://$hostOut/docs/$id?a=${id % 7}&z=$lang"
      (src, url, canon, upperHost, port.nonEmpty)
    }
    rows.foreach { r =>
      val src = r.getString(0)
      val mine = expected.filter(_._1 == src)
      assert(r.getAs[Long]("n_urls") === mine.length.toLong)
      assert(r.getAs[Long]("n_case_fixed") === mine.count(_._4).toLong)
      assert(r.getAs[Long]("n_port_stripped") === mine.count(_._5).toLong)
      assert(r.getAs[Long]("n_changed") === mine.count(e => e._3 != e._2).toLong)
      assert(r.getAs[Long]("fingerprint") ===
        mine.map(e => h60(e._3)).reduce(_ ^ _), s"$src fingerprint")
    }
  }

  test("bigram lift: scores and top-k membership match a token replay") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q119BigramLift(spark, d).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val docs = graft.sources.Tables.documents(spark, d)
      .select($"text").filter($"text".isNotNull).collect()
      .map(_.getString(0).split(" ", -1).toSeq)
    val uni = docs.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bi = docs.flatMap(t => t.zip(t.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTok = uni.values.sum.toDouble
    val nBi = bi.values.sum.toDouble
    val scored = bi.toSeq.filter(_._2 >= 5L).map { case ((a, b), nab) =>
      val lift = (nab / nBi) / ((uni(a) / nTok) * (uni(b) / nTok))
      (s"$a $b", nab, uni(a), uni(b), lift)
    }
    val expect = scored.sortBy(x => (-x._5, x._1)).take(50)
    assert(rows.map(_.getString(0)).toSeq === expect.map(_._1))
    rows.zip(expect).foreach { case (r, e) =>
      assert(r.getAs[Long]("n_ab") === e._2)
      assert(r.getAs[Long]("n_a") === e._3)
      assert(r.getAs[Long]("n_b") === e._4)
      assert(math.abs(r.getAs[Double]("lift") - e._5) < 1e-4 + 1e-9)
    }
  }

  test("leave-last-out: exactly one test event per user, counts replay") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val rows = EventOps.q120LeaveLastOut(spark, d).collect()
    val evs = graft.sources.Tables.events(spark, d)
      .select($"user_id", $"event_id", $"event_type", $"ts".cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val lastPerUser = evs.groupBy(_._1).view.mapValues(
      _.maxBy(e => (e._4, e._2))._2).toMap.values.toSet
    val expect = evs.groupBy(e =>
      (if (lastPerUser(e._2)) "test" else "train", e._3))
      .view.mapValues(_.size.toLong).toMap
    assert(rows.map(r => (r.getString(0), r.getString(1)) ->
      r.getAs[Long]("n_events")).toMap === expect)
    // exactly one test row per user
    val nTest = rows.filter(_.getString(0) == "test")
      .map(_.getAs[Long]("n_events")).sum
    assert(nTest === evs.map(_._1).distinct.length.toLong)
  }

  test("decayed value: fold matches an exact dyadic replay") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q121DecayedValue(spark, d).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    val os = graft.sources.Tables.orders(spark, d)
      .select($"o_custkey",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long"),
        datediff(to_date($"o_orderdate"), lit("1970-01-01"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val maxDay = os.map(_._3).max
    val scores = os.groupBy(_._1).view.mapValues { rs =>
      val buckets = rs.groupBy(e => (maxDay - e._3) / 28)
        .view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
      var acc = 0.0
      buckets.foreach { case (k, c) =>
        acc += (if (k >= 63) 0.0 else c.toDouble / (1L << k))
      }
      acc / 100.0
    }.toMap
    val expect = scores.toSeq.sortBy(x => (-x._2, x._1)).take(100)
    assert(rows.map(_.getLong(0)).toSeq === expect.map(_._1))
    rows.zip(expect).foreach { case (r, (_, sc)) =>
      assert(r.getAs[Double]("decayed_value") ===
        math.floor(sc * 1e4 + 0.5) / 1e4)
    }
  }

  test("phash: decode-path hash equals pure byte arithmetic; dups collide") {
    import graft.operators.CustomOps
    val d = "/root/testdata/sf0.001"
    val rows = CustomOps.q122Phash(spark, d).collect()
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"text").filter($"text".isNotNull).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def replay(text: String): (Long, Long, Long) = {
      val bytes = text.getBytes("UTF-8")
      val h = math.max(1, (bytes.length + 47) / 48)
      val len = 48L * h
      val sums = new Array[Long](64)
      var tot = 0L
      bytes.zipWithIndex.foreach { case (b, i) =>
        sums(((i.toLong * 64) / len).toInt) += (b & 0xff); tot += (b & 0xff)
      }
      var hash = 0L; var bits = 0L
      (0 until 64).foreach { k =>
        val cnt = ((k + 1) * len + 63) / 64 - (k * len + 63) / 64
        if (sums(k) * len > tot * cnt) { hash |= (1L << k); bits += 1 }
      }
      (len, hash, bits)
    }
    val byId = rows.map(r => r.getLong(0) ->
      (r.getAs[Long]("n_stream"), r.getAs[Long]("phash"),
        r.getAs[Long]("bits_set"))).toMap
    docs.foreach { case (id, text) =>
      assert(byId(id) === replay(text), s"doc $id")
    }
    // crafted: identical payloads collide exactly; a one-char edit
    // moves few bits (the property image-dedup bucketing relies on)
    locally {
      import graft.multimodal.Multimodal
      import graft.multimodal.Multimodal.MediaRow
      val base = ("the quick brown fox jumps over the lazy dog " * 20).trim
      val tweaked = base.updated(5, 'Q')
      val media = spark.createDataset(Seq(
        MediaRow(1L, Multimodal.encodeBmp(base.getBytes("UTF-8")), "bmp", 16, 1),
        MediaRow(2L, Multimodal.encodeBmp(base.getBytes("UTF-8")), "bmp", 16, 1),
        MediaRow(3L, Multimodal.encodeBmp(tweaked.getBytes("UTF-8")), "bmp", 16, 1)
      ))(org.apache.spark.sql.Encoders.product[MediaRow])
      val hs = Multimodal.perceptualHash(media).collect()
        .map(m => m.media_id -> m.phash).toMap
      assert(hs(1L) === hs(2L), "identical payloads must collide")
      val dist = java.lang.Long.bitCount(hs(1L) ^ hs(3L))
      assert(dist <= 8, s"one-char edit moved $dist bits")
    }
  }

  test("entity resolution: census matches an all-pairs brute-force match") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q123EntityResolution(spark, d).collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(salt: String, k: Long): Long = java.lang.Long.parseLong(
      md.digest(s"$salt$k".getBytes("UTF-8")).map("%02x".format(_))
        .mkString.substring(0, 8), 16)
    val clean = graft.sources.Tables.customer(spark, d)
      .select($"c_custkey", $"c_name").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val outcomes = clean.map { case (k, name) =>
      val messy = if (h("er", k) % 10 < 3) {
        val pos = (h("ep", k) % 9 + 10).toInt  // 1-based
        val nd = ((name(pos - 1) - '0' + (h("ec", k) % 9) + 1) % 10 + '0')
          .toChar
        name.updated(pos - 1, nd)
      } else name
      // brute force: best (dist, custkey) over candidates with dist<=1
      val cands = clean.map { case (ck, cn) => (lev(messy, cn), ck) }
        .filter(_._1 <= 1)
      if (cands.isEmpty) "unmatched"
      else {
        val (dist, ck) = cands.min
        if (ck == k && dist == 0) "exact"
        else if (ck == k) "fuzzy_correct"
        else if (dist == 0) "collision"
        else "fuzzy_wrong"
      }
    }
    val expect = outcomes.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.map(r => r.getString(0) -> r.getAs[Long]("n")).toMap === expect)
    // the typo generator really fires and fuzzy matching really recovers
    assert(expect.getOrElse("fuzzy_correct", 0L) > 0L)
  }

  test("incremental dedup: decisions replay from the verified pair relation") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q124IncrementalDedup(spark, d).collect()
    assert(rows.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    def isNew(id: Long): Boolean = java.lang.Long.parseLong(
      md.digest(s"inc:$id".getBytes("UTF-8")).map("%02x".format(_))
        .mkString.substring(0, 8), 16) % 10 == 3
    val docs = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"text").filter($"text".isNotNull).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val oldTexts = docs.filter(e => !isNew(e._1)).map(_._2).toSet
    // near-dup partners from the independently-oracled q24 relation
    val pairs = TextOps.q24LshPairs(spark, d)
      .filter($"jaccard" >= 0.8).select($"d1", $"d2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val newWithOldPartner = (pairs.flatMap { case (a, b) =>
      Seq((a, b), (b, a)) }
      .filter { case (n, o) => isNew(n) && !isNew(o) }.map(_._1)).toSet
    val expect = docs.filter(e => isNew(e._1)).map { case (id, text) =>
      if (oldTexts.contains(text)) "exact_dup"
      else if (newWithOldPartner(id)) "near_dup"
      else "unique"
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.map(r => r.getString(0) -> r.getAs[Long]("n_docs")).toMap
      === expect)
    // the gate actually fires on this corpus
    assert(expect.getOrElse("near_dup", 0L) +
      expect.getOrElse("exact_dup", 0L) > 0L)
  }

  test("CDC merge: latest-op-wins replay, deletes removed, checksums match") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q125CdcMerge(spark, d).collect()
    assert(rows.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h8(sel: String): Long = java.lang.Long.parseLong(
      md.digest(sel.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 8), 16)
    def h60(sel: String): Long = java.lang.Long.parseLong(
      md.digest(sel.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16)
    val orders = graft.sources.Tables.orders(spark, d)
      .select($"o_orderkey", $"o_orderpriority",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // sequential apply: I, then U (20%), then D (5%) — last wins
    val applied = orders.map { case (k, pri, c0) =>
      val hasUpd = h8(s"u:$k") % 5 == 0
      val hasDel = h8(s"d:$k") % 20 == 0
      val cents = if (hasUpd) c0 + c0 / 10 else c0
      (pri, k, cents, hasDel)
    }
    rows.foreach { r =>
      val pri = r.getString(0)
      val mine = applied.filter(_._1 == pri)
      val live = mine.filter(!_._4)
      assert(r.getAs[Long]("n_live") === live.length.toLong)
      assert(r.getAs[Long]("n_deleted") === mine.count(_._4).toLong)
      assert(math.round(r.getAs[Double]("live_value") * 100.0) ===
        live.map(_._3).sum)
      val fpr = live.map(e => h60(s"${e._2}|${e._3}"))
        .foldLeft(0L)(_ ^ _)
      assert(r.getAs[Long]("fingerprint") === fpr, s"$pri fingerprint")
    }
    // both op kinds really fire
    assert(applied.exists(_._4) &&
      applied.exists(e => h8(s"u:${e._2}") % 5 == 0))
  }

  test("compaction plan: groups reach target and boundaries replay") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q126CompactionPlan(spark, d).collect()
    assert(rows.nonEmpty)
    val files = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var cum = 0L
    val expect = files.map { case (id, sz) =>
      val g = cum / 65536L; cum += sz; (g, id, sz)
    }.groupBy(_._1)
    assert(rows.length === expect.size)
    rows.foreach { r =>
      val g = expect(r.getAs[Long]("grp"))
      assert(r.getAs[Long]("n_files") === g.length.toLong)
      assert(r.getAs[Long]("n_bytes") === g.map(_._3).sum)
      assert(r.getAs[Long]("first_doc") === g.map(_._2).min)
      assert(r.getAs[Long]("last_doc") === g.map(_._2).max)
    }
    // every group but the last reached the target
    val last = rows.map(_.getAs[Long]("grp")).max
    rows.filter(_.getAs[Long]("grp") != last).foreach { r =>
      assert(r.getAs[Long]("n_bytes") >= 1L,
        "non-final group exists")
    }
    assert(rows.length > 1, "corpus should pack into several groups")
  }

  test("seasonality: dow cells match an epoch-day replay") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val rows = EventOps.q127Seasonality(spark, d).collect()
    assert(rows.nonEmpty)
    val evs = graft.sources.Tables.events(spark, d)
      .select($"event_type", $"ts".cast("long"),
        floor($"value" * 100.0 + 0.5).cast("long")).collect()
      .map(r => (r.getString(0), (r.getLong(1) / 86400 + 4) % 7,
        r.getLong(2)))
    rows.foreach { r =>
      val mine = evs.filter(e =>
        e._1 == r.getString(0) && e._2 == r.getAs[Long]("dow"))
      assert(r.getAs[Long]("n") === mine.length.toLong)
      assert(r.getAs[Double]("avg_value") ===
        math.floor(mine.map(_._3).sum.toDouble / mine.length + 0.5) / 100.0)
    }
    // the dow assignment is a real calendar: epoch day 0 was a Thursday
    // (= 4 in the 0=Sunday convention), so 2024-01-01 (epoch day
    // 19723) lands on Monday = 1
    assert((19723L + 4) % 7 === 1L)
    // conservation across cells
    assert(rows.map(_.getAs[Long]("n")).sum === evs.length.toLong)
  }

  test("winsorize: boundaries, clip census, and mean match a sort replay") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q128Winsorize(spark, d).collect()
    assert(rows.nonEmpty)
    val evs = graft.sources.Tables.events(spark, d)
      .select($"event_type", floor($"value" * 100.0 + 0.5).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    rows.foreach { r =>
      val mine = evs.filter(_._1 == r.getString(0)).map(_._2).sorted
      val n = mine.length
      def pct(mult: Long): Long =
        mine(mine.indices.find(i => (i + 1).toLong * 20 >= n * mult).get)
      val (lo, hi) = (pct(1), pct(19))
      assert(r.getAs[Double]("lo_value") === lo / 100.0)
      assert(r.getAs[Double]("hi_value") === hi / 100.0)
      assert(r.getAs[Long]("n_clipped_lo") === mine.count(_ < lo).toLong)
      assert(r.getAs[Long]("n_clipped_hi") === mine.count(_ > hi).toLong)
      val wsum = mine.map(c => math.max(math.min(c, hi), lo)).sum
      assert(r.getAs[Double]("winsorized_mean") ===
        math.floor(wsum.toDouble / n + 0.5) / 100.0)
      // clipping really fires on both tails
      assert(r.getAs[Long]("n_clipped_lo") > 0 &&
        r.getAs[Long]("n_clipped_hi") > 0)
    }
  }

  test("budget curation: level cutoff matches a greedy quality replay") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q129BudgetCuration(spark, d).collect()
    assert(rows.nonEmpty)
    val docs = graft.operators.TextOps.q20TextStats(spark, d)
      .select($"doc_id", $"n_tokens", floor($"quality" * 1e4 + 0.5).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val srcs = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // greedy replay: cutoff = lowest quality level whose own mass plus
    // everything above it still fits the budget
    val levels = docs.groupBy(_._3).view
      .mapValues(_.map(_._2).sum).toSeq.sortBy(-_._1)
    var above = 0L
    var cutQ4 = Long.MaxValue
    levels.foreach { case (q4, ltok) =>
      if (above + ltok <= 100000L) cutQ4 = q4
      above += ltok
    }
    val sel = docs.filter(_._3 >= cutQ4)
    val expect = sel.groupBy(e => srcs(e._1)).view.mapValues { g =>
      (g.length.toLong, g.map(_._2).sum, g.map(_._3).min)
    }.toMap
    assert(rows.map(r => r.getString(0) ->
      ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
        math.round(r.getAs[Double]("min_quality") * 1e4)))).toMap === expect)
    // the budget binds: selected mass fits, adding the next level wouldn't
    assert(sel.map(_._2).sum <= 100000L)
  }

  test("journey patterns: regex census matches a per-user replay") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val r = EventOps.q130JourneyPatterns(spark, d).collect().head
    val evs = graft.sources.Tables.events(spark, d)
      .select($"user_id", $"ts".cast("long"), $"event_id",
        substring($"event_type", 1, 1)).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
    val js = evs.groupBy(_._1).values.map(g =>
      g.sortBy(e => (e._2, e._3)).map(_._4).mkString).toSeq
    assert(r.getAs[Long]("n_users") === js.length.toLong)
    assert(r.getAs[Long]("n_clean_convert") ===
      js.count(j => "v[^ep]*p".r.findFirstIn(j).isDefined).toLong)
    assert(r.getAs[Long]("n_error_recovery") ===
      js.count(j => "e[^p]*p".r.findFirstIn(j).isDefined).toLong)
    assert(r.getAs[Long]("n_abandoned") ===
      js.count(j => "v[^p]*$".r.findFirstIn(j).isDefined).toLong)
  }

  test("feature hash: bucket census matches an md5 token replay") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q132FeatureHash(spark, d).collect()
    assert(rows.length === 30)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h8(sel: String): Long = java.lang.Long.parseLong(
      md.digest(sel.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 8), 16)
    val toks = graft.sources.Tables.documents(spark, d)
      .select($"text").filter($"text".isNotNull).collect()
      .flatMap(_.getString(0).split(" ", -1))
    val byBucket = toks.groupBy(w => h8(s"fh:$w") % 1024)
    val scored = byBucket.view.mapValues { ws =>
      (ws.length.toLong,
        ws.map(w => if (h8(s"fs:$w") % 2 == 0) 1L else -1L).sum,
        ws.distinct.length.toLong)
    }.toMap
    val expectTop = scored.toSeq.sortBy { case (b, (n, _, _)) => (-n, b) }
      .take(30)
    assert(rows.map(_.getLong(0)).toSeq === expectTop.map(_._1))
    rows.zip(expectTop).foreach { case (r, (_, (n, sw, nd))) =>
      assert((r.getAs[Long]("n_tokens"), r.getAs[Long]("signed_weight"),
        r.getAs[Long]("n_distinct_tokens")) === ((n, sw, nd)))
    }
    // collisions actually occur (the audit is non-vacuous)
    assert(rows.exists(_.getAs[Long]("n_distinct_tokens") > 1))
  }

  test("spike days / freshness / rank movers: replays over daily grains") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val evs = graft.sources.Tables.events(spark, d)
      .select($"event_type", date_format($"ts", "yyyy-MM-dd"),
        $"ts".cast("long")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def medOf(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)

    // q133
    val srows = EventOps.q133SpikeDays(spark, d).collect()
    srows.foreach { r =>
      val daily = evs.filter(_._1 == r.getString(0)).groupBy(_._2)
        .view.mapValues(_.size.toLong).toMap
      val med = medOf(daily.values.toSeq)
      val mad = medOf(daily.values.map(n => math.abs(n - med)).toSeq)
      assert(r.getAs[Long]("n_days") === daily.size.toLong)
      assert(r.getAs[Long]("med_n") === med)
      assert(r.getAs[Long]("mad_n") === mad)
      assert(r.getAs[Long]("n_spike_days") ===
        daily.values.count(_ > med + 3 * mad).toLong)
    }

    // q134
    val hwm = evs.map(_._3).max
    EventOps.q134Freshness(spark, d).collect().foreach { r =>
      val mine = evs.filter(_._1 == r.getString(0))
      assert(r.getAs[Long]("lag_s") === hwm - mine.map(_._3).max)
      assert(r.getAs[Long]("n_last_24h") ===
        mine.count(_._3 >= hwm - 86400L).toLong)
    }

    // q135
    val mrows = EventOps.q135RankMovers(spark, d).collect()
    val ranks = evs.groupBy(e => (e._2, e._1)).view.mapValues(_.size.toLong)
      .toSeq.groupBy(_._1._1).flatMap { case (day, cells) =>
        cells.sortBy { case ((_, t), n) => (-n, t) }.zipWithIndex
          .map { case (((_, t), n), i) => (day, t) -> (n, i + 1L) }
      }
    mrows.foreach { r =>
      val (n, rnk) = ranks((r.getString(0), r.getString(1)))
      assert(r.getAs[Long]("n") === n)
      assert(r.getAs[Long]("rnk") === rnk)
      val prevDay = java.time.LocalDate.parse(r.getString(0)).minusDays(1)
        .toString
      val expChange = ranks.get((prevDay, r.getString(1)))
        .map(_._2 - rnk)
      assert(Option(r.getAs[Any]("rank_change"))
        .map(_.asInstanceOf[Long]) === expChange)
    }
  }

  test("ANN recall: ppm matches the q27∩q48 set intersection") {
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val rows = VectorOps.q136AnnRecall(spark, d).collect()
    assert(rows.nonEmpty)
    val exact = VectorOps.q27KnnCosine(spark, d)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val approx = VectorOps.q48IvfAnn(spark, d)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { r =>
      val q = r.getLong(0)
      val ex = exact.filter(_._1 == q)
      val hit = ex.count(approx.contains).toLong
      assert(r.getAs[Long]("k") === ex.length.toLong)
      assert(r.getAs[Long]("n_hit") === hit)
      assert(r.getAs[Long]("recall_ppm") ===
        math.floor(hit * 1000000.0 / ex.length).toLong)
    }
    // the index is useful: mean recall above 50%
    assert(rows.map(_.getAs[Long]("recall_ppm")).sum / rows.length > 500000L)
  }

  test("ABC analysis: two-phase cumulative share matches a global sort replay") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q137AbcAnalysis(spark, d).collect()
    assert(rows.map(_.getString(0)).toSet === Set("A", "B", "C"))
    val rev = graft.sources.Tables.orders(spark, d)
      .select($"o_custkey", floor($"o_totalprice" * 100.0 + 0.5).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val total = rev.map(_._2).sum
    var before = 0L
    val classed = rev.sortBy { case (k, r) => (-r, k) }.map { case (_, r) =>
      val c = if (before * 100 < total * 80) "A"
        else if (before * 100 < total * 95) "B" else "C"
      before += r
      (c, r)
    }
    val expect = classed.groupBy(_._1).view.mapValues(g =>
      (g.length.toLong, g.map(_._2).sum)).toMap
    rows.foreach { r =>
      val (n, cents) = expect(r.getString(0))
      assert(r.getAs[Long]("n_customers") === n)
      assert(math.round(r.getAs[Double]("class_revenue") * 100.0) === cents)
      assert(r.getAs[Long]("share_ppm") ===
        math.floor(cents * 1000000.0 / total).toLong)
    }
    // structural invariant (holds for ANY distribution): A's share is
    // >= 80% (the first B customer's exclusive prefix already is), and
    // A+B >= 95%
    val shareOf = rows.map(r => r.getString(0) -> r.getAs[Long]("share_ppm"))
      .toMap
    assert(shareOf("A") >= 800000L)
    assert(shareOf("A") + shareOf("B") >= 950000L)
  }

  test("diversified top-k: quota + global rank match a greedy replay") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q138DiversifiedTopK(spark, d).collect()
    assert(rows.length === 10)
    val docs = TextOps.q20TextStats(spark, d)
      .select($"doc_id", floor($"quality" * 1e4 + 0.5).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val srcs = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perSource = docs.groupBy(e => srcs(e._1)).values.flatMap(g =>
      g.sortBy(e => (-e._2, e._1)).take(2)).toSeq
    val expect = perSource.sortBy(e => (-e._2, e._1)).take(10)
    assert(rows.map(_.getLong(0)).toSeq === expect.map(_._1))
    // the quota binds: no source contributes more than 2
    assert(rows.groupBy(_.getString(1)).values.forall(_.length <= 2))
  }

  test("point-in-time SCD2: every fact sees exactly its active version") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q139PointInTime(spark, d).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("unique_match")),
      "a fact matched zero or multiple versions")
    val os = graft.sources.Tables.orders(spark, d)
      .select($"o_custkey", date_format($"o_orderdate", "yyyy-MM-dd"),
        $"o_orderkey", $"o_orderpriority",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
    // versions: per (cust, day) the max-orderkey order's priority,
    // valid [day, nextday)
    val expect = os.groupBy(_._1).values.flatMap { cust =>
      val vers = cust.groupBy(_._2).view.mapValues(g =>
        g.maxBy(_._3)._4).toSeq.sortBy(_._1)
      cust.map { case (_, day, _, _, cents) =>
        val active = vers.takeWhile(_._1 <= day).last._2
        (active, cents)
      }
    }.toSeq
    val census = expect.groupBy(_._1).view.mapValues(g =>
      (g.size.toLong, g.map(_._2).sum)).toMap
    rows.foreach { r =>
      val (n, cents) = census(r.getString(0))
      assert(r.getAs[Long]("n_facts") === n)
      assert(math.round(r.getAs[Double]("fact_value") * 100.0) === cents)
    }
    assert(rows.map(_.getAs[Long]("n_facts")).sum === os.length.toLong)
  }

  test("KS drift: statistic matches an empirical-CDF replay") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q140KsDrift(spark, d).collect()
    assert(rows.nonEmpty)
    val evs = graft.sources.Tables.events(spark, d)
      .select($"event_type", floor($"value" * 100.0 + 0.5).cast("long"),
        date_format($"ts", "yyyy-MM-dd")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2) < "2024-01-16"))
    rows.foreach { r =>
      val mine = evs.filter(_._1 == r.getString(0))
      val a = mine.filter(_._3).map(_._2)
      val b = mine.filter(!_._3).map(_._2)
      assert(r.getAs[Long]("n1") === a.length.toLong)
      assert(r.getAs[Long]("n2") === b.length.toLong)
      val grid = (a ++ b).distinct.sorted
      val d0 = grid.map { v =>
        math.abs(a.count(_ <= v).toDouble / a.length -
          b.count(_ <= v).toDouble / b.length)
      }.max
      assert(r.getAs[Long]("ks_ppm") === math.floor(d0 * 1e6).toLong)
      // two halves of the same generator: drift should be small but
      // the statistic must be strictly positive (non-vacuous)
      assert(r.getAs[Long]("ks_ppm") > 0L)
    }
  }

  test("phash pairs: popcount-verified, pigeonhole-complete at <=3 bits") {
    import graft.operators.CustomOps
    val d = "/root/testdata/sf0.001"
    val rows = CustomOps.q141PhashPairs(spark, d).collect()
    val hashes = CustomOps.q122Phash(spark, d).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("phash")).toMap
    rows.foreach { r =>
      val (m1, m2, h) = (r.getLong(0), r.getLong(1), r.getAs[Long]("hamming"))
      assert(m1 < m2)
      assert(h === java.lang.Long.bitCount(hashes(m1) ^ hashes(m2)).toLong)
      assert(h <= 6L)
    }
    // pigeonhole: any pair within 3 bits shares an intact 16-bit band,
    // so it MUST be emitted — unless a band bucket hit the 64 cap
    val bucketSizes = hashes.values.toSeq.flatMap(sh =>
      (0 until 4).map(b => (b, (sh >>> (b * 16)) & 0xffffL)))
      .groupBy(identity).view.mapValues(_.size).toMap
    if (bucketSizes.values.max <= 64) {
      val emitted = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val ids = hashes.keys.toSeq.sorted
      for {
        i <- ids.indices; j <- (i + 1) until ids.length
        if java.lang.Long.bitCount(hashes(ids(i)) ^ hashes(ids(j))) <= 3
      } assert(emitted.contains((ids(i), ids(j))),
        s"missed close pair ${ids(i)},${ids(j)}")
    }
    // the threshold is doing work: some candidate pairs were rejected
    assert(rows.nonEmpty)
  }

  test("ln-grid boundary guard: no transcendental hazard in test corpora") {
    import graft.operators.TextOps
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val haz = TextOps.lnBoundaryHazards(spark, d).collect()
      assert(haz.isEmpty,
        s"$d: ${haz.take(3).mkString("; ")} — q67/q68 may flip a grid cell")
    }
  }

  test("order-sensitive new ops are partitioning-invariant") {
    // q111 (two-phase running sums), q117 (md5 arms + float formula),
    // q121 (fixed-order decay fold), q114 (md5 routing): identical
    // results under a different shuffle width and much smaller scan
    // splits — catches any hidden dependence on partition count or
    // intra-partition order
    val d = "/root/testdata/sf0.001"
    def runAll(): Map[String, Seq[String]] = Map(
      "q111" -> graft.operators.EventOps.q111Concurrency(spark, d)
        .collect().map(_.toString).toSeq,
      "q114" -> graft.operators.EventOps.q114DeadLetter(spark, d)
        .collect().map(_.toString).toSeq,
      "q117" -> graft.operators.EventOps.q117AbLift(spark, d)
        .collect().map(_.toString).toSeq,
      "q121" -> graft.operators.Relational.q121DecayedValue(spark, d)
        .collect().map(_.toString).toSeq)
    val saved = Seq("spark.sql.shuffle.partitions",
      "spark.sql.files.maxPartitionBytes")
      .map(k => k -> spark.conf.get(k))
    val base = runAll()
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
      val alt = runAll()
      base.foreach { case (q, rows) =>
        assert(alt(q) === rows, s"$q changed under repartitioning")
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("vocab growth: buckets match a first-seen replay and cumsum is total") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q142VocabGrowth(spark, d).collect()
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, d)
      .filter($"text".isNotNull).select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // split(..., -1) keeps trailing empties, matching Spark's split()
    val toks = docs.flatMap { case (id, t) => t.split(" ", -1).map(id -> _) }
    val firstSeen = toks.groupBy(_._2).view.mapValues(_.map(_._1).min)
      .values.groupBy(_ / 50).view.mapValues(_.size.toLong).toMap
    val mass = toks.groupBy(_._1 / 50).view.mapValues(_.length.toLong).toMap
    assert(rows.map(_.getLong(0)).toSeq === mass.keys.toSeq.sorted)
    var cum = 0L
    rows.foreach { r =>
      val b = r.getLong(0)
      assert(r.getAs[Long]("n_tokens") === mass(b))
      assert(r.getAs[Long]("n_new_tokens") === firstSeen.getOrElse(b, 0L))
      cum += r.getAs[Long]("n_new_tokens")
      assert(r.getAs[Long]("vocab_to_date") === cum)
    }
    // every token ever seen is new exactly once
    assert(cum === toks.map(_._2).distinct.length.toLong)
  }

  test("token normalization: census and fingerprint match a full replay") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val r = TextOps.q143TokenNormalize(spark, d).collect().head
    val docs = graft.sources.Tables.documents(spark, d)
      .filter($"text".isNotNull).select($"doc_id", $"text").collect()
      .map(x => (x.getLong(0), x.getString(1)))
    val stop = graft.functions.Text.stopwords.toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    def fp(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    var nRaw = 0L; var nKept = 0L; var xor = 0L
    val vocabRaw = scala.collection.mutable.Set[String]()
    val vocabNorm = scala.collection.mutable.Set[String]()
    docs.foreach { case (id, t) =>
      t.split(" ", -1).zipWithIndex.foreach { case (w, pos) =>
        nRaw += 1; vocabRaw += w
        val lw = w.toLowerCase.replaceAll("[^a-zA-Z0-9]", "")
        val nw =
          if (lw.endsWith("ing") && lw.length > 5) lw.dropRight(3)
          else if (lw.endsWith("s") && lw.length > 3) lw.dropRight(1)
          else lw
        if (nw.nonEmpty && !stop(nw)) {
          nKept += 1; vocabNorm += nw
          xor ^= fp(s"$id|$pos|$nw")
        }
      }
    }
    assert(r.getAs[Long]("n_raw_tokens") === nRaw)
    assert(r.getAs[Long]("n_kept_tokens") === nKept)
    assert(r.getAs[Long]("vocab_raw") === vocabRaw.size.toLong)
    assert(r.getAs[Long]("vocab_normed") === vocabNorm.size.toLong)
    assert(r.getAs[Long]("stream_fingerprint") === xor)
  }

  test("temperature mix: sqrt-grid weights match a replay; shares sum sanely") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q144TemperatureMix(spark, d).collect()
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, d)
      .filter($"text".isNotNull).select($"source", $"text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val per = docs.groupBy(_._1).view.mapValues { g =>
      val toks = g.map(t => if (t._2.isEmpty) 0L
        else t._2.count(_ == ' ').toLong + 1L).sum
      (g.length.toLong, toks)
    }.toMap
    val gOf = per.view.mapValues { case (_, nt) =>
      math.floor(math.sqrt(nt.toDouble) * 1e6 + 0.5).toLong
    }.toMap
    val sumG = gOf.values.sum
    val totalDocs = per.values.map(_._1).sum
    rows.foreach { r =>
      val src = r.getString(0)
      assert(r.getAs[Long]("n_docs") === per(src)._1)
      assert(r.getAs[Long]("n_tokens") === per(src)._2)
      val ppm = gOf(src) * 1000000L / sumG
      assert(r.getAs[Long]("weight_ppm") === ppm)
      assert(r.getAs[Long]("target_docs") === totalDocs * ppm / 1000000L)
    }
    // floor-division share total: within |sources| ppm of 1e6
    val tot = rows.map(_.getAs[Long]("weight_ppm")).sum
    assert(tot <= 1000000L && tot > 1000000L - rows.length)
  }

  test("boilerplate census: per-doc counts match a cross-doc gram replay") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q145Boilerplate(spark, d).collect()
    val docs = graft.sources.Tables.documents(spark, d)
      .filter($"text".isNotNull).select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length === docs.length)
    def grams(t: String): Seq[String] = {
      val w = t.split(" ", -1)
      (0 to w.length - 5).map(i => w.slice(i, i + 5).mkString(" "))
    }
    val byDoc = docs.map { case (id, t) => id -> grams(t) }.toMap
    val thresh = math.max(3L, docs.length.toLong / 100L)
    val docCount = byDoc.toSeq.flatMap { case (id, gs) =>
      gs.distinct.map(_ -> id)
    }.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val bp = docCount.filter(_._2 >= thresh).keySet
    rows.foreach { r =>
      val gs = byDoc(r.getLong(0))
      val nBp = gs.count(bp).toLong
      assert(r.getAs[Long]("n_grams") === gs.length.toLong)
      assert(r.getAs[Long]("n_bp_grams") === nBp)
      assert(r.getAs[Long]("bp_ppm") ===
        (if (gs.isEmpty) 0L else nBp * 1000000L / gs.length))
    }
  }

  test("canonical pick: per-cluster argmax quality with min-id tie-break") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val rows = TextOps.q146CanonicalPick(spark, d).collect()
    assert(rows.nonEmpty)
    val qual = TextOps.q20TextStats(spark, d)
      .select($"doc_id", floor($"quality" * 1e4 + 0.5).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val members = TextOps.q50DedupClusters(spark, d)
      .select($"doc_id", $"canonical_id", $"cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCluster = members.groupBy(_._2)
    assert(rows.length === byCluster.size)
    rows.foreach { r =>
      val cid = r.getLong(0)
      val g = byCluster(cid)
      val best = g.map(m => (qual(m._1), m._1)).sortBy(e => (-e._1, e._2)).head
      assert(r.getAs[Long]("cluster_size") === g.head._3)
      assert(r.getAs[Long]("best_doc_id") === best._2)
      assert(r.getAs[Long]("best_q") === best._1)
      assert(r.getAs[Long]("canonical_q") === qual(cid))
      assert(r.getAs[Long]("q_gain") === best._1 - qual(cid))
      assert(r.getAs[Long]("q_gain") >= 0L)
    }
  }

  test("embed health: gridded centroid alignment matches a fold replay") {
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val rows = VectorOps.q147EmbedHealth(spark, d).collect()
    assert(rows.nonEmpty)
    val vecs = graft.sources.Tables.embeddings(spark, d)
      .select($"label", $"embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val byLabel = vecs.groupBy(_._1)
    assert(rows.length === byLabel.size)
    rows.foreach { r =>
      val g = byLabel(r.getInt(0)).map(_._2)
      val dim = g.head.length
      // gridded per-dim sums = the centroid representation under test
      val cvec = Array.tabulate(dim) { i =>
        g.map(v => math.floor(v(i).toDouble * 1e6 + 0.5).toLong).sum.toDouble
      }
      val nc = math.sqrt(cvec.map(x => x * x).sum)
      val cgs = g.map { v =>
        // left-to-right double folds, matching VecDot/VecNormSq
        var dot = 0.0; var n2 = 0.0
        var i = 0
        while (i < dim) {
          dot += v(i).toDouble * cvec(i); n2 += v(i).toDouble * v(i).toDouble
          i += 1
        }
        val den = math.sqrt(n2) * nc
        val cos = if (den == 0.0) 0.0 else dot / den
        math.floor(cos * 1e6 + 0.5).toLong
      }
      assert(r.getAs[Long]("n_vecs") === g.length.toLong)
      assert(r.getAs[Double]("mean_alignment") ===
        math.floor(cgs.sum.toDouble / cgs.length + 0.5) / 1e6)
      assert(r.getAs[Double]("min_alignment") === cgs.min.toDouble / 1e6)
    }
  }

  test("q153 epoch shuffle: shards partition every epoch; epochs reshuffle") {
    import graft.sources.Tables
    val d = "/root/testdata/sf0.001"
    val total = Tables.documents(spark, d).filter(col("text").isNotNull).count()
    val out = graft.operators.TextOps.q153EpochShuffle(spark, d).collect()
    val byEpoch = out.groupBy(_.getAs[Int]("epoch"))
    assert(byEpoch.keySet === Set(1, 2, 3))
    byEpoch.foreach { case (_, rows) =>
      // shards partition the corpus: doc counts sum back to the total
      assert(rows.map(_.getAs[Long]("n_docs")).sum === total)
      assert(rows.forall { r =>
        val s = r.getAs[Long]("shard"); s >= 0 && s < 16
      })
    }
    // different epochs assign different keys: the per-shard membership
    // fingerprints cannot all coincide between two epochs
    val fp = (e: Int) => byEpoch(e)
      .map(r => r.getAs[Long]("shard") -> r.getAs[Long]("member_fp")).toMap
    assert(fp(1) !== fp(2))
    assert(fp(2) !== fp(3))
  }

  test("q152 hard negatives are cross-label and match a window replay") {
    import graft.sources.Tables
    val d = "/root/testdata/sf0.001"
    val out = graft.operators.VectorOps.q152HardNegatives(spark, d)
    assert(out.filter(col("query_label") === col("negative_label")).count() === 0)
    // independent window formulation of the same top-k
    val emb = Tables.embeddings(spark, d)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val replay = emb.crossJoin(broadcast(q))
      .filter(col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.Vectors.cosine(col("qvec"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("negative_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = out.select(col("query_id"), col("negative_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === replay)
  }

  test("q154 delete propagation: census equals a driver-side tombstone replay") {
    import graft.sources.Tables
    val d = "/root/testdata/sf0.001"
    // JVM replay of the md5 tombstone predicate + chunk arithmetic
    def tomb(id: Long): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"del:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 20 == 7
    }
    val docs = Tables.documents(spark, d).filter(col("text").isNotNull)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    def chunksOf(n: Int): Long =
      if (n <= 32) 1L else 1L + math.ceil((n - 32) / 24.0).toLong
    val expDocs = (docs.length.toLong, docs.count(t => tomb(t._1)).toLong)
    val expChunks = (docs.map(t => chunksOf(t._2)).sum,
      docs.filter(t => tomb(t._1)).map(t => chunksOf(t._2)).sum)
    val out = graft.operators.TextOps.q154DeletePropagation(spark, d)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("documents")._1 === expDocs._1)
    assert(out("documents")._2 === expDocs._2)
    assert(out("chunks")._1 === expChunks._1)
    assert(out("chunks")._2 === expChunks._2)
    // uniform invariants across all four relations
    out.values.foreach { case (before, removed, after) =>
      assert(after === before - removed)
      assert(removed >= 0 && removed <= before)
    }
    assert(out.keySet === Set("documents", "chunks", "near_dup_pairs", "dup_groups"))
    // non-vacuous at this SF: tombstones exist and pairs/groups fire
    assert(out("documents")._2 > 0)
    assert(out("near_dup_pairs")._2 > 0)
    assert(out("dup_groups")._2 > 0)
  }

  test("q155 padding plan: pow2 buckets and waste equal a JVM replay") {
    import graft.sources.Tables
    val d = "/root/testdata/sf0.001"
    val ns = Tables.documents(spark, d).filter(col("text").isNotNull)
      .select(size(split(col("text"), " ")).as("n")).filter(col("n") > 0)
      .collect().map(_.getInt(0).toLong)
    def pow2Bucket(n: Long): Long =
      if ((n & (n - 1)) == 0) n else java.lang.Long.highestOneBit(n) << 1
    val expect = ns.groupBy(pow2Bucket).map { case (b, xs) =>
      val docs = xs.length.toLong; val mass = xs.sum
      b -> ((docs, mass,
        math.floor((b * docs - mass) * 1000000.0 / (b * docs)).toLong))
    }
    val out = graft.operators.TextOps.q155PaddingPlan(spark, d).collect()
    assert(out.map(_.getAs[Long]("bucket")).toSet === expect.keySet)
    out.foreach { r =>
      val (docs, mass, waste) = expect(r.getAs[Long]("bucket"))
      assert(r.getAs[Long]("n_docs") === docs)
      assert(r.getAs[Long]("token_mass") === mass)
      assert(r.getAs[Long]("waste_ppm") === waste)
      // every doc fits its bucket: waste is a true padding fraction
      assert(waste >= 0 && waste < 1000000)
    }
  }

  test("q156 max drawdown equals a sequential running-peak fold") {
    import graft.sources.Tables
    val d = "/root/testdata/sf0.001"
    val rows = Tables.lineitem(spark, d)
      .select(col("l_suppkey"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("sd"),
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents"))
      .collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2),
        r.getInt(3).toLong, r.getLong(4)), r.getLong(5)))
    val expect = rows.groupBy(_._1).map { case (k, xs) =>
      var peak = Long.MinValue; var maxDd = 0L; var under = 0L
      xs.sortBy(x => x._2).foreach { case (_, _, c) =>
        if (c > peak) peak = c
        val dd = peak - c
        if (dd > maxDd) maxDd = dd
        if (dd > 0) under += 1
      }
      k -> ((xs.length.toLong, peak, maxDd, under))
    }
    graft.operators.EventOps.q156MaxDrawdown(spark, d).collect().foreach { r =>
      val (n, peak, dd, under) = expect(r.getLong(0))
      assert(r.getAs[Long]("n_points") === n)
      assert(r.getAs[Double]("max_price") === peak / 100.0)
      assert(r.getAs[Double]("max_drawdown") === dd / 100.0)
      assert(r.getAs[Long]("n_underwater") === under)
    }
  }

  test("q157 volatility equals a sequential diff-fold replay") {
    import graft.sources.Tables
    val d = "/root/testdata/sf0.001"
    val rows = Tables.lineitem(spark, d)
      .select(col("l_suppkey"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("sd"),
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents"))
      .collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2),
        r.getInt(3).toLong, r.getLong(4)), r.getLong(5)))
    val expect = rows.groupBy(_._1).flatMap { case (k, xs) =>
      val cs = xs.sortBy(_._2).map(_._3)
      val diffs = cs.zip(cs.tail).map { case (a, b) => b - a }
      if (diffs.isEmpty) None else {
        val n = diffs.length.toLong
        val sd = diffs.sum; val sd2 = diffs.map(x => x * x).sum
        val vr = (n.toDouble * sd2.toDouble - sd.toDouble * sd.toDouble) /
          (n.toDouble * n.toDouble)
        Some(k -> ((n,
          math.floor(math.sqrt(vr) / 100.0 * 1e4 + 0.5) / 1e4,
          sd / 100.0)))
      }
    }
    graft.operators.EventOps.q157Volatility(spark, d).collect().foreach { r =>
      val (n, vol, net) = expect(r.getLong(0))
      assert(r.getAs[Long]("n_moves") === n)
      assert(r.getAs[Double]("vol") === vol)
      assert(r.getAs[Double]("net_move") === net)
    }
  }

  test("q161 semdedup: crafted identical twins defer to their originals") {
    import graft.operators.VectorOps
    // 16 distinct seed directions (vec_id < NumCells) + two exact
    // copies — an identical vector scores identical cosines against
    // every centroid, so it MUST land in its original's cell, rank
    // after it (vec_id order), and be dropped with max_prev_cos 1.0
    val base = java.nio.file.Files
      .createTempDirectory("graft_semdedup_twins").toString
    val vecs = (0 until 16).map { i =>
      (i.toLong, Array((1.0 + i).toFloat, ((i * 7) % 5).toFloat,
        ((i * 3) % 7).toFloat, 1.0f), i % 3)
    } ++ Seq(
      (16L, Array(1.0f, 0.0f, 0.0f, 1.0f), 1),   // twin of vec 0
      (17L, Array(6.0f, 0.0f, 1.0f, 1.0f), 2),   // twin of vec 5
      (18L, Array(0.1f, 9.0f, -3.0f, 0.2f), 0))  // its own direction
    assert(vecs(0)._2.toSeq === vecs(16)._2.toSeq &&
      vecs(5)._2.toSeq === vecs(17)._2.toSeq)
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/embeddings.parquet")
    val out = VectorOps.q161Semdedup(spark, base).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[String]("status"), r.getAs[Double]("max_prev_cos")))
      .toMap
    assert(out.size === 19)
    assert(out(16L) === (("dropped", 1.0)), s"twin 16: ${out(16L)}")
    assert(out(17L) === (("dropped", 1.0)), s"twin 17: ${out(17L)}")
    assert(out(0L)._1 === "kept" && out(5L)._1 === "kept")
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("q161 semdedup: dispositions equal a within-cell JVM replay") {
    import graft.operators.VectorOps
    val dd = "/root/testdata/sf0.001"
    val rows = VectorOps.q161Semdedup(spark, dd).collect()
    assert(rows.nonEmpty)
    val vecs = graft.sources.Tables.embeddings(spark, dd)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // left-to-right double folds matching VecDot/VecNormSq
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dt = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dt += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 0.0 else dt / den
    }
    // replay the decision per cell from the query's OWN cell/rank
    // columns — validates the pairing+policy layer independently of
    // the clustering layer (whose arithmetic q65's specs own)
    rows.groupBy(_.getAs[Long]("cell_id")).foreach { case (_, members) =>
      // the replay ignores the candidate cap — valid only while no
      // cell exceeds it; fail HERE with a diagnosis if the corpus grows
      assert(members.length <= VectorOps.SemDedupMaxCell,
        s"cell exceeds SemDedupMaxCell (${members.length}) — replay must cap")
      val byRank = members.sortBy(_.getAs[Long]("cell_rank"))
      byRank.zipWithIndex.foreach { case (r, idx) =>
        assert(r.getAs[Long]("cell_rank") === (idx + 1).toLong)
        val me = vecs(r.getAs[Long]("vec_id"))
        val prior = byRank.take(idx)
          .map(p => cos(me, vecs(p.getAs[Long]("vec_id"))))
        val expected =
          if (prior.isEmpty) -1.0
          else math.floor(prior.max * 1e6 + 0.5) / 1e6
        assert(r.getAs[Double]("max_prev_cos") === expected,
          s"vec ${r.getLong(0)} max_prev_cos")
        val expectStatus =
          if (prior.nonEmpty && prior.max >= 0.45) "dropped" else "kept"
        assert(r.getAs[String]("status") === expectStatus,
          s"vec ${r.getLong(0)} status")
      }
    }
  }

  test("q163 bpe merges equal a JVM vocabulary replay") {
    import graft.operators.TextOps
    val dd = "/root/testdata/sf0.001"
    val got = TextOps.q163BpeMerges(spark, dd).collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("total_freq"), r.getAs[Long]("n_words")))
    // replay: word frequencies, then pair counts over the vocabulary
    val wordFreq = graft.sources.Tables.documents(spark, dd)
      .select($"text").collect().iterator
      .flatMap(_.getString(0).split(" ", -1))
      .filter(_.length >= 2)
      .foldLeft(Map.empty[String, Long]) { (m, w) =>
        m.updated(w, m.getOrElse(w, 0L) + 1L)
      }
    val pairAgg = scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
    wordFreq.foreach { case (w, cnt) =>
      val occ = w.sliding(2).toSeq
        .groupBy(identity).view.mapValues(_.size.toLong)
      occ.foreach { case (p, o) =>
        val k = (p.substring(0, 1), p.substring(1, 2))
        val (f, n) = pairAgg.getOrElse(k, (0L, 0L))
        pairAgg(k) = (f + o * cnt, n + 1L)
      }
    }
    val expected = pairAgg.toSeq
      .map { case ((l, r), (f, n)) => (l, r, f, n) }
      .sortBy { case (l, r, f, _) => (-f, l, r) }
      .take(50)
    assert(got.toSeq === expected)
  }

  test("q164 water-fill: exact budget, both statuses, level law on skewed sources") {
    import graft.operators.TextOps
    // skewed corpus: tiny sources must survive uncapped, big ones cap
    // at one shared level, and the allocation must sum to the budget
    // EXACTLY (the remainder rule) — none of which the near-uniform
    // driver corpus exercises
    val base = java.nio.file.Files
      .createTempDirectory("graft_waterfill").toString
    def doc(id: Long, src: String, words: Int) =
      (id, (1 to words).map(i => s"w$i").mkString(" "), src)
    val docs = Seq(
      doc(1, "tiny", 3), doc(2, "small", 10),
      doc(3, "big", 200), doc(4, "big", 150), doc(5, "huge", 600))
    docs.toDF("doc_id", "text", "source")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/documents.parquet")
    val rows = TextOps.q164WaterFill(spark, base).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("alloc_tokens"), r.getAs[String]("status"),
        r.getAs[Long]("fill_level"))).toMap
    val totalTokens = rows.values.map(_._1).sum
    val budget = totalTokens / 2
    assert(rows.values.map(_._2).sum === budget, "allocation must equal budget")
    assert(rows("tiny")._3 === "full" && rows("tiny")._2 === rows("tiny")._1)
    assert(rows("small")._3 === "full" && rows("small")._2 === rows("small")._1)
    assert(rows("big")._3 === "capped" && rows("huge")._3 === "capped")
    // the water-level law: capped sources pay level (+1 for remainder),
    // and no capped source exceeds its own mass
    val level = rows.values.head._4
    rows.values.filter(_._3 == "capped").foreach { case (t, a, _, l) =>
      assert(l === level)
      assert(a === level || a === level + 1, s"capped alloc $a vs level $level")
      assert(a <= t)
    }
    // feasibility: every 'full' source sits at or below the level
    rows.values.filter(_._3 == "full").foreach { case (t, _, _, _) =>
      assert(t <= level + 1)
    }
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("q166 DSIR weights equal a JVM replay; target docs score higher") {
    import graft.operators.TextOps
    val dd = "/root/testdata/sf0.001"
    val got = TextOps.q166DsirWeights(spark, dd).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_feat"), r.getDouble(2)))
      .toMap
    val docs = graft.sources.Tables.documents(spark, dd)
      .select($"doc_id", $"source", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // exact replay: same md5 bucketing, same Math.log (the JVM Spark
    // runs on), same grid-then-sum arithmetic
    def bucket(w: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(("ds:" + w).getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 64L
    }
    val perDoc = docs.map { case (id, src, text) =>
      (id, src, text.split(" ", -1).map(bucket)
        .groupBy(identity).view.mapValues(_.length.toLong).toMap)
    }
    val raw = scala.collection.mutable.Map.empty[Long, Long]
    val tgt = scala.collection.mutable.Map.empty[Long, Long]
    perDoc.foreach { case (_, src, bc) =>
      bc.foreach { case (b, c) =>
        raw(b) = raw.getOrElse(b, 0L) + c
        if (src == "src0") tgt(b) = tgt.getOrElse(b, 0L) + c
      }
    }
    val rd = raw.values.sum + 64L
    val td = tgt.values.sum + 64L
    val lwByDoc = perDoc.map { case (id, _, bc) =>
      val n = bc.values.sum
      val sgrid = bc.map { case (b, c) =>
        math.floor(c * (math.log((tgt.getOrElse(b, 0L) + 1L).toDouble) -
          math.log((raw(b) + 1L).toDouble)) * 1e6 + 0.5).toLong
      }.sum
      val cgrid = math.floor(
        n * (math.log(rd.toDouble) - math.log(td.toDouble)) * 1e6 + 0.5).toLong
      id -> ((n, (sgrid + cgrid) / 1e6))
    }.toMap
    assert(got === lwByDoc)
    // the estimator's point: target-slice docs look like the target
    val bySrc = docs.map { case (id, src, _) => src -> got(id)._2 }
    val tgtMean = bySrc.filter(_._1 == "src0").map(_._2)
    val restMean = bySrc.filter(_._1 != "src0").map(_._2)
    assert(tgtMean.sum / tgtMean.length > restMean.sum / restMean.length,
      "target docs do not out-score the raw corpus")
  }

  test("q167 split: exact per-stratum proportions, repartition-invariant") {
    import graft.operators.TextOps
    val dd = "/root/testdata/sf0.001"
    val rows = TextOps.q167SplitAssign(spark, dd).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // exact rank-cut counts per stratum: floor(.8n) / floor(.9n)-floor(.8n) / rest
    rows.groupBy(_._2).foreach { case (src, members) =>
      val n = members.length.toLong
      val bySplit = members.groupBy(_._3).view.mapValues(_.length.toLong)
      assert(bySplit.getOrElse("train", 0L) === n * 80L / 100L, s"$src train")
      assert(bySplit.getOrElse("val", 0L) === n * 90L / 100L - n * 80L / 100L,
        s"$src val")
      assert(bySplit.getOrElse("test", 0L) === n - n * 90L / 100L, s"$src test")
    }
    // assignment is a pure function of the data — identical under a
    // different physical partitioning of the input
    val again = TextOps.q167SplitAssign(spark, dd).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.toSet === again.toSet)
  }

  test("q171 audit trail: deterministic under the injected clock, rerun-stable") {
    val d = "/root/testdata/sf0.001"
    val first = Staging.q171AuditTrail(spark, d).collect()
    assert(first.length === 5)
    assert(first.forall(_.getAs[String]("duration") == "0.000 s"))
    assert(first.forall(_.getAs[String]("created_date") == "2026-01-01 12:00:00"))
    assert(first.forall(_.getAs[String]("snapshot_date") == "2026-01-01"))
    assert(first.forall(r =>
      r.getAs[Long]("source_row") == r.getAs[Long]("target_row")))
    val regionRows = graft.sources.Tables.region(spark, d).count()
    val regionEntry = first.find(_.getAs[String]("source_name") == "region.csv").get
    assert(regionEntry.getAs[Long]("source_row") === regionRows)
    // the delete-recreate path makes a rerun reproduce the trail exactly
    val second = Staging.q171AuditTrail(spark, d).collect()
    assert(second.toSeq === first.toSeq)
  }

  test("q173 ccnet buckets partition the corpus with ordered mean surprisal") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.operators.TextOps.q173CcnetBuckets(spark, d).collect()
    assert(rows.map(_.getAs[String]("bucket")).toSeq ===
      Seq("head", "middle", "tail"))
    val total = graft.sources.Tables.documents(spark, d).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === total)
    val means = rows.map(_.getAs[Double]("mean_surprisal_nats"))
    assert(means(0) < means(1) && means(1) < means(2),
      s"tertile means not ordered: ${means.toSeq}")
  }

  test("q175 gopher census equals direct recounts and bounds pass-all") {
    val d = "/root/testdata/sf0.001"
    import graft.functions.Text
    val m = graft.operators.TextOps.q175GopherRules(spark, d).collect()
      .map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_flagged")).toMap
    val docs = graft.sources.Tables.documents(spark, d)
    val total = docs.count()
    assert(m("r1_too_short") ===
      docs.filter(Text.tokenCount(col("text")) < 20).count())
    assert(m("r2_too_long") ===
      docs.filter(Text.tokenCount(col("text")) > 90).count())
    val ruleCounts = (m - "gopher_pass_all").values
    // pass-all is total minus the union of violations: bracketed by the
    // largest single rule (lower union bound) and the sum (upper bound)
    assert(m("gopher_pass_all") <= total - ruleCounts.max)
    assert(m("gopher_pass_all") >= total - ruleCounts.sum)
  }

  test("q177 wav codec: JDK parser reads back the synthesized header and samples") {
    import graft.multimodal.Multimodal
    val payload = Array[Byte](0, 127.toByte, 128.toByte, 255.toByte)
    val ds = Seq(
      Multimodal.AudioRow(1L, Multimodal.encodeWav(payload)),
      Multimodal.AudioRow(2L, Multimodal.encodeWav(Array.empty[Byte]))).toDS()
    val out = Multimodal.decodeAudio(ds).collect().sortBy(_.media_id)
    assert(out(0).sample_rate === 8000L)
    assert(out(0).channels === 1L)
    assert(out(0).bits === 8L)
    assert(out(0).n_samples === 4L)
    // unsigned samples around the 128 midline: 128 + 1 + 0 + 127
    assert(out(0).sum_amp === 256L)
    assert(out(0).duration_ms === 0L)
    assert(out(1).n_samples === 0L && out(1).sum_amp === 0L)
  }

  test("q181 VAD: crafted clip segments, tail-window threshold scaling") {
    import graft.multimodal.Multimodal
    // amp('a'=97) = 31 → full-window energy 4960 ≥ 4800 (active);
    // amp('x'=120) = 8 → 1280 (inactive). Pattern A x A A + short
    // inactive tail → islands {w0} and {w2,w3}: 2 segments, longest 2.
    val clip1 = "a" * 160 + "x" * 160 + "a" * 160 + "a" * 160 + "x" * 40
    // an 80-sample tail-only clip of 'a': energy 2480, and the
    // scale-free compare 2480·160 ≥ 4800·80 holds — active despite
    // being under the full-window threshold (no tail bias)
    val clip2 = "a" * 80
    val base = java.nio.file.Files
      .createTempDirectory("graft_vad").toString
    Seq((1L, clip1), (2L, clip2)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/documents.parquet")
    val got = graft.operators.CustomOps.q181VadSegments(spark, base)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) === ((5L, 3L, 2L, 40L)),
      s"clip1 (n_windows, n_active, n_segments, longest_ms): ${got(1L)}")
    assert(got(2L) === ((1L, 1L, 1L, 20L)), s"clip2: ${got(2L)}")
    // the decode path itself: window grain, true tail length, exact sums
    val w = Multimodal.decodeAudioWindows(
      Seq(Multimodal.AudioRow(9L, Multimodal.encodeWav(
        Array[Byte](0, 127.toByte, 128.toByte, 255.toByte)))).toDS(), 3)
      .collect().sortBy(_.widx)
    assert(w.length === 2)
    assert(w(0) === Multimodal.AudioWindow(9L, 0L, 3L, 128L + 1L + 0L))
    assert(w(1) === Multimodal.AudioWindow(9L, 1L, 1L, 127L))
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("q180 BM25: exact JVM replay on a crafted corpus") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "spark hash spark"), (2L, "spark table"),
      (3L, "window merge window"), (4L, "scan table scan scan"),
      (5L, "the quick fox"))
    val base = java.nio.file.Files
      .createTempDirectory("graft_bm25").toString
    docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
      .parquet(s"$base/documents.parquet")
    val got = TextOps.q180Bm25(spark, base).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // replay with the SAME association order as the query / mirror SQL
    val dl = docs.map { case (id, t) => id -> t.split(" ").length.toLong }.toMap
    val n = docs.size.toLong
    val a = dl.values.sum
    val tf = for ((q, term) <- TextOps.Bm25Queries;
                  (id, t) <- docs;
                  c = t.split(" ").count(_ == term) if c > 0)
      yield (q, term, id, c.toLong)
    val dfr = tf.groupBy(_._2).map { case (t, xs) =>
      t -> xs.map(_._3).distinct.size.toLong }
    val exp = tf.map { case (q, term, id, c) =>
      val df = dfr(term)
      val idf = math.floor(
        math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6 + 0.5).toLong
      val tg = math.floor(idf.toDouble * (c * 44.0 * a) /
        (20.0 * a * c + 6.0 * a + 18.0 * dl(id) * n) + 0.5).toLong
      ((q, id), tg)
    }.groupBy(_._1).map { case ((q, id), xs) =>
      (q, id, xs.map(_._2).sum, xs.size.toLong) }.toSeq
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(10).zipWithIndex.map {
          case ((_, id, sg, hits), i) =>
            (q, i + 1L, id, hits, sg / 1e6) }
      }.sortBy(r => (r._1, r._2))
    assert(got.toSeq === exp, s"got=${got.mkString(";")}")
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("q182 postings: sample capped at 5, rank-ordered rendering") {
    import graft.operators.TextOps
    val base = java.nio.file.Files
      .createTempDirectory("graft_postings").toString
    Seq((1L, "z"), (2L, "z z"), (3L, "z z z"), (4L, "z"), (5L, "z z"),
      (6L, "z"), (7L, "z z z z"), (8L, "other"))
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
      .parquet(s"$base/documents.parquet")
    val got = TextOps.q182Postings(spark, base).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // 7 docs hold z (cap bites: only 5 rendered), ordered tf desc then
    // doc_id: d7(4), d3(3), d2(2), d5(2), d1(1) — d4/d6 cut
    assert(got("z") === ((7L, 14L, "7,3,2,5,1")), s"z: ${got("z")}")
    assert(got("other") === ((1L, 1L, "8")))
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("q183 triplets: labels/cells consistent, argmax replay vs q161 assignment") {
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val cells = VectorOps.q161Semdedup(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labels = graft.sources.Tables.embeddings(spark, d)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val vecs = graft.sources.Tables.embeddings(spark, d)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cosGrid(a: Array[Double], b: Array[Double]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      val c = if (na == 0.0 || nb == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      math.floor(c * 1e6 + 0.5).toLong
    }
    // the query caps the CANDIDATE side at the first SemDedupMaxCell
    // cell members by vec_id rank (anchors uncapped) — the replay must
    // use the SAME constant, or a cap change would silently validate
    // against the wrong candidate set
    val capped = cells.toSeq.groupBy(_._2).map { case (c, xs) =>
      c -> xs.map(_._1).sorted.take(VectorOps.SemDedupMaxCell).toSet }
    val rows = VectorOps.q183ContrastiveTriplets(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, cell, p, n) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(4))
      assert(cells(a) === cell)
      assert(cells(p) === cell && cells(n) === cell,
        s"triplet $a: pos/neg left the cell")
      assert(labels(p) === labels(a), s"positive label mismatch for $a")
      assert(labels(n) !== labels(a), s"negative label match for $a")
      // argmax replay: no capped in-cell candidate of the right label
      // beats the picked one on (gridded cos, cand_id)
      val mates = (capped(cell) - a).toSeq
      val posBest = mates.filter(v => labels(v) == labels(a))
        .map(v => (-cosGrid(vecs(a), vecs(v)), v)).min
      val negBest = mates.filter(v => labels(v) != labels(a))
        .map(v => (-cosGrid(vecs(a), vecs(v)), v)).min
      assert(posBest._2 === p && -posBest._1 === math.round(r.getDouble(3) * 1e6),
        s"positive argmax replay failed for $a")
      assert(negBest._2 === n && -negBest._1 === math.round(r.getDouble(5) * 1e6),
        s"negative argmax replay failed for $a")
      assert(math.round(r.getDouble(6) * 1e6) ===
        math.round(r.getDouble(3) * 1e6) - math.round(r.getDouble(5) * 1e6))
    }
    // every vector with both a same- and cross-label CAPPED cellmate
    // appears
    val expected = cells.keys.filter { a =>
      val mates = capped(cells(a)) - a
      mates.exists(v => labels(v) == labels(a)) &&
        mates.exists(v => labels(v) != labels(a))
    }.toSet
    assert(rows.map(_.getLong(0)).toSet === expected)
  }

  test("q184 BPE apply: crafted corpus — winner pick, merge math, freq identity") {
    import graft.operators.TextOps
    val base = java.nio.file.Files
      .createTempDirectory("graft_bpe_apply").toString
    // words: abc(1), ab(3), xy(1) → pair (a,b) total 1+3 = 4 wins over
    // (b,c)=1, (x,y)=1
    Seq((1L, "abc ab", "s1"), (2L, "ab ab", "s1"), (3L, "xy", "s1"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/documents.parquet")
    val rows = TextOps.q184BpeApply(spark, base).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[String]("pair") === "ab")
    assert(r.getAs[Long]("total_freq") === 4L)
    assert(r.getAs[Long]("n_docs") === 3L)
    assert(r.getAs[Long]("n_docs_touched") === 2L)
    // the vocabulary-side prediction equals the corpus-side application
    assert(r.getAs[Long]("occ_merged") === 4L)
    assert(r.getAs[Long]("symbols_before") === 11L)
    assert(r.getAs[Long]("symbols_after") === 7L)
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("q189 triangles: hand-counted K4, duplicate co-orders collapse") {
    // orders 1 and 4 overlap (edge 1-2,1-3,2-3 appear twice) and order
    // 4 completes K4: 6 distinct edges, 4 nodes, C(4,3)=4 triangles.
    // With all degrees equal (3) the orientation falls to the id
    // tie-break (1<2<3<4): outdegs 3/2/1/0 -> wedges 3+1+0+0 = 4, and
    // every wedge closes — each triangle counted exactly once
    val base = java.nio.file.Files
      .createTempDirectory("graft_triangles").toString
    Seq((1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L),
      (3L, 3L), (3L, 4L),
      (4L, 1L), (4L, 2L), (4L, 3L), (4L, 4L))
      .toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/lineitem.parquet")
    val got = graft.operators.Relational.q189Triangles(spark, base)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("n_edges" -> 6L, "n_nodes" -> 4L,
      "n_triangles" -> 4L, "n_wedges" -> 4L), s"census: $got")
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("wedgeClose: adjacency close equals wedge-join close on a pseudo-random graph") {
    // the round-16 compact-forward arm (adjacencyClose = true, the
    // staged corpus-grain path) must emit the IDENTICAL triangle
    // multiset as the original wedge-join arm (the small-graph /
    // k-truss-round path) — drive both over a deterministic
    // pseudo-random 60-node edge soup with hubs and ties
    val edges = (for {
      a <- 0 until 30; b <- (a + 1) until 30
      if (a * 31 + b * 17 + a * b) % 3 == 0
    } yield (a.toLong, b.toLong)).toDF("pa", "pb")
    val ed = graft.operators.Relational.orientationOf(edges)._2
    def triSet(adj: Boolean) =
      graft.operators.Relational.wedgeClose(ed, adjacencyClose = adj)._2
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    val viaJoin = triSet(false)
    val viaAdj = triSet(true)
    assert(viaAdj === viaJoin, "closing strategies diverged")
    assert(viaJoin.distinct.size === viaJoin.size,
      "a triangle materialized more than once")
    assert(viaJoin.nonEmpty, "vacuous law: crafted graph has no triangles")
  }

  /** Exchange, SortMergeJoin, BroadcastHashJoin, Window and Generate
    * nodes in a frame's final AQE plan, subqueries included. */
  private def planCounts(df: DataFrame): Seq[Int] = {
    val nodes = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
    Seq(nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      nodes.count(_.isInstanceOf[WindowExec]),
      nodes.count(_.isInstanceOf[GenerateExec]))
  }

  test("entry() returns rows; every declared query runs at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
    // Each query runs once with collect(), which computes every column
    // as Bench's noop write does, inside Blocks.scope and against a
    // private stage store, so a staged query builds its stage on every
    // run. It must return rows, leave no persistent RDD behind, and
    // stay within its line of plans/budgets.tsv: plan node counts and
    // Spark jobs, where `-` marks a count that varies between runs with
    // the order AQE's concurrent stages finish in. The measured table
    // goes to target/plan_budgets.tsv; copying it over the budget file
    // regenerates the budgets.
    val columns = Seq("exchange", "smj", "bhj", "window", "generate", "jobs")
    def rdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val prevStage = sys.props.get("graft.stage.dir")
    val stage = Files.createTempDirectory("graft_stage_budget")
    sys.props("graft.stage.dir") = stage.toString
    val rec = Harness.record(spark)
    val measured = try SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        val before = rdds
        rec.clear()
        val (counts, _) = graft.util.Blocks.scope(spark) {
          val df = fn(spark, "/root/testdata/sf0.001")
          assert(df.collect().nonEmpty, s"$name returned no rows")
          planCounts(df)
        }
        Harness.drain(spark.sparkContext)
        assert((rdds -- before).isEmpty,
          s"$name left persistent rdds ${rdds -- before} behind")
        name -> (counts :+ rec.jobMs.size)
    } finally {
      spark.sparkContext.removeSparkListener(rec)
      prevStage match {
        case Some(v) => sys.props("graft.stage.dir") = v
        case None => sys.props.remove("graft.stage.dir")
      }
      new scala.reflect.io.Directory(stage.toFile).deleteRecursively()
    }
    val budgetFile = Paths.get("plans/budgets.tsv")
    val budgets: Map[String, Seq[String]] =
      if (!Files.exists(budgetFile)) Map.empty
      else Files.readAllLines(budgetFile).asScala.toSeq.tail
        .map(_.split('\t').toSeq).map(l => l.head -> l.tail).toMap
    val table = measured.map { case (name, got) =>
      val held = budgets.getOrElse(name, got.map(_.toString))
      (name +: got.zip(held).map {
        case (_, "-") => "-"
        case (g, _) => g.toString
      }).mkString("\t")
    }
    Files.write(Paths.get("target/plan_budgets.tsv"),
      (("query" +: columns).mkString("\t") +: table).asJava)
    val cells = for {
      (name, got) <- measured
      held <- budgets.get(name).toSeq
      ((g, h), col) <- got.zip(held).zip(columns) if h != "-"
    } yield (s"$name $col", g, h.toInt)
    cells.filter { case (_, g, h) => g < h }.foreach { case (c, g, h) =>
      println(s"tighten plans/budgets.tsv: $c is $g, budget $h")
    }
    val problems =
      cells.collect { case (c, g, h) if g > h => s"over budget: $c $g > $h" } ++
        measured.map(_._1).filterNot(budgets.contains)
          .map(n => s"no budget line: $n") ++
        budgets.keys.toSeq.sorted.filterNot(SparkEntry.queries.contains)
          .map(n => s"budget line names no registered query: $n")
    if (problems.nonEmpty) fail(problems.mkString("plan budgets:\n", "\n", ""))
  }

  test("q191 BPE trainer: iteration-2 winner exists only via iteration 1; " +
      "doubled-letter run merges greedily") {
    val base = "/tmp/engine_spec_q191"
    // crafted corpus: "abc"×4, "abd"×1, "aaaa"×1
    //  iter1: (a,b)=5 wins (n_words 2)       → abc→[ab,c], abd→[ab,d]
    //  iter2: (ab,c)=4 beats (a,a)=3 — a pair whose LEFT symbol only
    //         exists because of iteration 1's merge
    //  iter3: (a,a)=3 wins (the OVERLAPPING 3-count in the 4-run) and
    //         applies greedily: [a,a,a,a] → [aa,aa], not [aa,a,a]
    Seq("abc abc abc abc abd aaaa").toDF("text")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/documents.parquet")
    val got = graft.operators.TextOps.q191BpeTrain(spark, base)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      (1L, "ab", 5L, 2L, 14L),
      (2L, "abc", 4L, 1L, 10L),
      (3L, "aa", 3L, 1L, 8L)), s"trainer trace: ${got.toSeq}")
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("q192 maximal repeats: crafted regions recover exact boundaries, " +
      "sub-threshold and isolated repeats filtered") {
    val base = "/tmp/engine_spec_q192"
    def toks(p: String, n: Int) = (1 to n).map(p + _)
    val A = toks("A", 15)   // 15-token shared passage → 8-gram run → 15
    val B = toks("B", 12)   // 12-token shared passage → 5-gram run → 12
    val C = toks("C", 11)   // 11 tokens → 4-gram run → 11 < 12: filtered
    val d1 = (A ++ toks("u", 5) ++ B ++ toks("v", 5) ++ C).mkString(" ")
    val d2 = (toks("w", 4) ++ A ++ toks("x", 5) ++ B ++ toks("y", 4) ++ C)
      .mkString(" ")
    // doc 3: A's first window then B's first window back to back — two
    // SEPARATE 1-gram islands (8 tokens each, filtered), which must not
    // merge across the unique boundary gram
    val d3 = (A.take(8) ++ B.take(8)).mkString(" ")
    spark.createDataFrame(Seq((1L, d1), (2L, d2), (3L, d3)))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/documents.parquet")
    val got = graft.operators.TextOps.q192MaxRepeats(spark, base)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got === Seq(
      (1L, 0L, 8L, 15L), (1L, 20L, 5L, 12L),
      (2L, 4L, 8L, 15L), (2L, 24L, 5L, 12L)), s"regions: $got")
    new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
  }

  test("q201 audio decimation: crafted clips keep exactly the stride-2 samples") {
    import graft.multimodal.Multimodal
    // 'abcdef' → samples 97..102; stride 2 keeps a,c,e → Σ|s−128| =
    // 31+29+27 = 87 over 3 samples; odd length 'abcde' keeps a,c,e too
    val clips = Seq(
      Multimodal.AudioRow(7L, Multimodal.encodeWav("abcdef".getBytes("US-ASCII"))),
      Multimodal.AudioRow(8L, Multimodal.encodeWav("abcde".getBytes("US-ASCII"))),
      Multimodal.AudioRow(9L, Multimodal.encodeWav(Array.emptyByteArray)))
    val got = Multimodal.decimateAudio(spark.createDataset(clips), 2)
      .collect().map(r => r.media_id ->
        (r.sample_rate_out, r.n_samples_out, r.duration_ms_out,
          r.sum_amp_out)).toMap
    assert(got(7L) === ((4000L, 3L, 0L, 87L)))
    assert(got(8L) === ((4000L, 3L, 0L, 87L)))
    assert(got(9L) === ((4000L, 0L, 0L, 0L)))
  }

  test("q200 leaderboard: recall replays from the three arms' outputs") {
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = ids(VectorOps.q27KnnCosine(spark, d))
    val arms = Map("ivf" -> ids(VectorOps.q48IvfAnn(spark, d)),
      "binary" -> ids(VectorOps.q196BinaryAnn(spark, d)))
    val got = VectorOps.q200AnnLeaderboard(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val want = arms.flatMap { case (a, qs) => qs.map { case (q, ns) =>
      val hits = (ns & exact(q)).size.toLong
      (a, q) -> (hits, hits * 100000L)
    } }
    assert(got === want, s"leaderboard diverged: $got vs $want")
  }

  test("q199 CDC chunks: boundaries re-sync after an insertion (the " +
      "fixed-segmentation failure case)") {
    import graft.operators.TextOps
    // doc 1: 200 distinct tokens; doc 2: the same stream with ONE token
    // prepended. CDC boundaries depend only on local bigrams, so doc 2's
    // cuts are doc 1's shifted by one — every chunk except the edited
    // first one still dedups. Fixed 8-token segmentation (q99's grain)
    // finds ZERO matching segments on the same pair: all boundaries
    // shifted.
    val toksA = (0 until 200).map(i => s"w$i")
    val docs = Seq(
      (1L, toksA.mkString(" ")),
      (2L, ("INS" +: toksA).mkString(" "))).toDF("doc_id", "text")
    val got = TextOps.cdcChunkStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    // full Scala replay of the boundary rule + dedup census
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def chunksOf(ts: Seq[String]): List[List[String]] = {
      val out = scala.collection.mutable.ListBuffer.empty[List[String]]
      var cur = scala.collection.mutable.ListBuffer.empty[String]
      ts.indices.foreach { i =>
        cur += ts(i)
        val cut = i + 1 < ts.size &&
          md5hex(ts(i) + " " + ts(i + 1) + ":cdc") < "08"
        if (cut) { out += cur.toList; cur = scala.collection.mutable.ListBuffer.empty }
      }
      if (cur.nonEmpty) out += cur.toList
      out.toList
    }
    val byDoc = Map(1L -> chunksOf(toksA), 2L -> chunksOf("INS" +: toksA))
    val firstSeen = scala.collection.mutable.Set.empty[String]
    val want = Seq(1L, 2L).map { doc =>
      val cs = byDoc(doc)
      var dupC = 0L; var dupT = 0L
      // a fingerprint seen earlier in THIS doc also counts (corpus order
      // is (doc, chunk))
      cs.foreach { c =>
        val fp = c.mkString(" ")
        if (firstSeen(fp)) { dupC += 1; dupT += c.size }
        else firstSeen += fp
      }
      doc -> (cs.size.toLong, cs.map(_.size).sum.toLong, dupC, dupT)
    }.toMap
    assert(got === want, s"census: $got vs replay: $want")
    val (nA, _, dupA, _) = got(1L)
    val (nB, _, dupB, _) = got(2L)
    assert(nA > 2L, s"p=1/32 over 200 tokens should cut several chunks ($nA)")
    assert(dupA === 0L, "doc 1 is corpus-first everywhere")
    assert(dupB === nB - 1, s"all but the edited first chunk must dedup " +
      s"(chunks $nB, dups $dupB)")
    // the fixed-segmentation contrast: zero 8-token aligned segments of
    // doc 2 appear among doc 1's — the failure mode CDC exists to avoid
    val segA = toksA.grouped(8).map(_.mkString(" ")).toSet
    val segB = ("INS" +: toksA).grouped(8).map(_.mkString(" ")).toSet
    assert((segB & segA).isEmpty,
      "fixed segmentation should lose every match after the shift")
  }

  test("q197 k-core peel: crafted cascade stabilizes on the 2-core") {
    // triangle 1-2-3 with tail node 4, plus a disjoint path 11-12-13-14
    // at k = 2: round 1 peels the tail and path ends, round 2 dissolves
    // the path remnant, round 3 is stable on the triangle (the 2-core)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (11L, 12L), (12L, 13L), (13L, 14L)).toDF("pa", "pb")
    val got = graft.operators.Relational.kCoreTrace(edges, 2L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map(
      "r0_edges" -> 7L, "r0_nodes" -> 8L,
      "r1_edges" -> 4L, "r1_nodes" -> 5L,
      "r2_edges" -> 3L, "r2_nodes" -> 3L,
      "r3_edges" -> 3L, "r3_nodes" -> 3L), s"trace: $got")
  }

  test("q196 binary ANN: packed popcount == sign disagreement; candidates " +
      "respect the Hamming cut") {
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val vecs = graft.sources.Tables.embeddings(spark, d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def ham(a: Array[Float], b: Array[Float]): Long =
      a.indices.count(i => (a(i) >= 0) != (b(i) >= 0)).toLong
    val rows = VectorOps.q196BinaryAnn(spark, d).collect()
    assert(rows.nonEmpty)
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.foreach { case (q, rs) =>
      // independent 32-candidate set by (hamming, vec_id)
      val cand = (vecs.keySet - q).toSeq
        .map(v => (ham(vecs(q), vecs(v)), v)).sorted.take(32).toSet
      var prevScore = Double.MaxValue
      rs.sortBy(_.getLong(1)).foreach { r =>
        val (n, h, score) = (r.getLong(2), r.getLong(3), r.getDouble(4))
        assert(h === ham(vecs(q), vecs(n)),
          s"packed Hamming diverged from sign disagreement at $q/$n")
        assert(cand((h, n)), s"neighbor $n of query $q outside the Hamming cut")
        assert(score <= prevScore, s"rerank scores not descending for $q")
        prevScore = score
      }
    }
  }

  test("q194 triangle sample: independent md5-coin + brute-force replay") {
    val d = "/root/testdata/sf0.001"
    // independent replay: co-edges and the sample coin recomputed from
    // raw lineitem rows, triangles counted by adjacency-set brute force
    val li = graft.sources.Tables.lineitem(spark, d)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted)
    val edges = byOrder.values.flatMap { ps =>
      for (i <- ps.indices; j <- (i + 1) until ps.size) yield (ps(i), ps(j))
    }.toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    def keep(e: (Long, Long)): Boolean = {
      md.reset()
      val dig = md.digest(s"${e._1}_${e._2}".getBytes("UTF-8"))
      ((dig(0) >> 4) & 0xf) < 2   // md5 hex < "2" ⇔ first nibble ∈ {0,1}
    }
    val sampled = edges.filter(keep)
    val adj = sampled.toSeq.flatMap(e => Seq(e, (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val tri = sampled.toSeq.map { case (a, b) =>
      (adj(a) & adj(b)).count(c => c > b)   // count each triangle once
    }.sum
    val got = graft.operators.Relational.q194TriangleSample(spark, d)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("n_edges_total") === edges.size.toLong)
    assert(got("n_edges_sampled") === sampled.size.toLong)
    assert(got("n_triangles_sampled") === tri.toLong)
    assert(got("est_triangles") === tri.toLong * 512L)
  }

  test("q195 l-diversity classes are exact rollups of q179's") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    // q179 groups by (lang, source, band); q195 drops lang into the
    // sensitive role — per (source, band) its k must equal the sum of
    // q179's k over langs and l_distinct the number of q179 rows
    val fine = TextOps.q179KAnonymity(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
    val rolled = fine.groupBy { case ((lang, src, band), _) => (src, band) }
      .map { case (k, xs) => k -> (xs.map(_._2).sum, xs.size.toLong) }
    val got = TextOps.q195LDiversity(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got === rolled, "l-diversity classes diverge from the q179 rollup")
  }

  test("q190 RRF fusion: replay from the two arms' own outputs") {
    import graft.operators.{TextOps, VectorOps}
    val d = "/root/testdata/sf0.001"
    def arm(df: org.apache.spark.sql.DataFrame, docCol: String) =
      df.collect().map(r => (r.getLong(0), r.getAs[Long](docCol)) ->
        r.getAs[Long]("rank")).toMap.filter(_._1._1 < 3)
    val lex = arm(TextOps.q180Bm25(spark, d), "doc_id")
    val sem = arm(VectorOps.q48IvfAnn(spark, d), "neighbor_id")
    assert(lex.nonEmpty && sem.nonEmpty)
    // expected fusion: integer reciprocals, summed per (query, doc),
    // top-10 by (score desc, doc_id)
    val expected = (lex.keySet ++ sem.keySet).groupBy(_._1).flatMap {
      case (q, keys) =>
        keys.toSeq.map { k =>
          val score = lex.get(k).map(r => 1000000L / (60L + r)).getOrElse(0L) +
            sem.get(k).map(r => 1000000L / (60L + r)).getOrElse(0L)
          (q, k._2, score,
            (if (lex.contains(k)) 1 else 0) + (if (sem.contains(k)) 1 else 0))
        }.sortBy(t => (-t._3, t._2)).take(10).zipWithIndex.map {
          case ((qq, doc, sc, arms), i) => (qq, i + 1L) -> (doc, sc, arms.toLong)
        }
    }
    val got = TextOps.q190RrfFusion(spark, d).collect().map { r =>
      (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))
    }.toMap
    assert(got === expected, "fused ranking diverged from the arm replay")
    // a doc hit by both arms must carry both source ranks
    TextOps.q190RrfFusion(spark, d).collect().foreach { r =>
      val both = r.getLong(4) == 2L
      assert((!r.isNullAt(5) && !r.isNullAt(6)) == both,
        s"arm-rank nullability inconsistent at ${r.getLong(0)}/${r.getLong(2)}")
    }
  }

  test("q270 chi-square drift: textbook 2x2 value, no-drift zero, midpoint cut") {
    import graft.operators.EventOps
    // days 0..3 -> cut = (0+3+1) div 2 = 2 (days 0,1 = ref; 2,3 = cur).
    // band 0: 8 ref / 2 cur; band 1: 2 ref / 8 cur — a textbook 2x2
    // with E = 5 everywhere: contrib = 2*(3^2/5) = 3.6 per band
    def mk(band: Long, day: Long, n: Int) = Seq.fill(n)((day, band))
    val drift = (mk(0L, 0L, 4) ++ mk(0L, 1L, 4) ++ mk(0L, 2L, 1) ++
      mk(0L, 3L, 1) ++ mk(1L, 0L, 1) ++ mk(1L, 1L, 1) ++
      mk(1L, 2L, 4) ++ mk(1L, 3L, 4)).toDF("day", "band")
    val got = EventOps.driftChi2(drift).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got === Map(
      0L -> ((8L, 2L, 500L, 3600000L)),
      1L -> ((2L, 8L, 500L, 3600000L))), s"textbook chi2: $got")
    // no drift: identical band mix in both halves -> every
    // contribution exactly 0 (counts equal their expectations)
    val flat = (mk(0L, 0L, 3) ++ mk(0L, 2L, 3) ++
      mk(1L, 1L, 5) ++ mk(1L, 3L, 5)).toDF("day", "band")
    EventOps.driftChi2(flat).collect().foreach { r =>
      assert(r.getLong(4) === 0L, s"no-drift contribution must be 0: $r")
    }
    // degenerate corpus (single day): every row lands on one side, the
    // chi-square is 0/0 — must raise LOUDLY in both engines, never cast
    // NaN to 0 silently (round-11 advice)
    val oneDay = (mk(0L, 5L, 3) ++ mk(1L, 5L, 2)).toDF("day", "band")
    val ex = intercept[Exception] {
      EventOps.driftChi2(oneDay).collect()
    }
    assert(ex.getMessage.contains("degenerate corpus") ||
      Option(ex.getCause).exists(_.getMessage.contains("degenerate corpus")),
      s"expected the loud degenerate-corpus guard, got: ${ex.getMessage}")
  }

  test("q269 SQ8: JVM replay, constant-dim zero, half-step bound live") {
    import graft.operators.VectorOps
    // dim 0: [0, 0.25, 0.5, 1] — includes the worst case exactly at a
    // half step (0.5 vs 128/255); dim 1: constant (zero-range branch)
    val vals = Seq((0L, 0.0), (0L, 0.25), (0L, 0.5), (0L, 1.0),
      (1L, 7.5), (1L, 7.5), (1L, 7.5)).toDF("dim", "v")
    val got = VectorOps.sq8Quant(vals).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    def replay(xs: Seq[Double]): (Long, Long, Long, Long, Long) = {
      val (lo, hi) = (xs.min, xs.max)
      val rows = xs.map { v =>
        if (hi == lo) (0L, 0L)
        else {
          val code = math.floor((v - lo) * 255.0 / (hi - lo) + 0.5).toLong
          val err = math.floor(math.abs(v - (lo + code * ((hi - lo) / 255.0)))
            / (hi - lo) * 1e9 + 0.5).toLong
          (code, err)
        }
      }
      (xs.size.toLong, rows.map(_._1).min, rows.map(_._1).max,
        rows.map(_._2).max, rows.map(_._2).sum / xs.size)
    }
    assert(got(0L) === replay(Seq(0.0, 0.25, 0.5, 1.0)), s"dim0: ${got(0L)}")
    assert(got(1L) === ((3L, 0L, 0L, 0L, 0L)), s"constant dim: ${got(1L)}")
    // the 0.5 value sits exactly half a step from 128/255 — the worst
    // case must realize the theoretical bound floor(1e9/510 + 0.5)
    assert(got(0L)._4 === 1960784L, s"half-step worst case: ${got(0L)}")
    // live: no dimension may exceed the half-step bound
    VectorOps.q269Sq8Quant(spark, "/root/testdata/sf0.001")
      .collect().foreach { r =>
        assert(r.getAs[Long]("max_err_ppb") <= 1960785L,
          s"SQ8 error beyond half a step: $r")
      }
  }

  test("q268 z-order: hand anchor, round-trip identity, live locality bound") {
    import graft.functions.ZOrderImpl
    // hand-interleaved anchor: x=0b101 -> out bits 0,4; y=0b011 ->
    // out bits 1,3  =>  1+2+8+16 = 27
    assert(ZOrderImpl.compute(5L, 3L) === 27L)
    assert(ZOrderImpl.compute(0L, 0L) === 0L)
    // round-trip identity across the window incl. the top bit
    val probes = Seq(0L, 1L, 2L, 1234567L, (1L << 30) + 12345L,
      (1L << ZOrderImpl.Bits) - 1L)
    for (x <- probes; y <- probes) {
      assert(ZOrderImpl.deinterleave(ZOrderImpl.compute(x, y)) === ((x, y)),
        s"round trip broke at ($x, $y)")
    }
    // the codegen'd Column path agrees with the JVM impl
    val df = Seq((5L, 3L), (1234567L, 7654321L)).toDF("x", "y")
      .select(graft.functions.ZOrder.zorder2($"x", $"y").as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(df === Seq(27L, ZOrderImpl.compute(1234567L, 7654321L)))
    // the z-property on the LIVE census: a 2^22 key range bounds BOTH
    // dimensions by 2^11 — the clustering claim the layout exists for
    graft.operators.Scale
      .q268ZorderLayout(spark, "/root/testdata/sf0.001")
      .collect().foreach { r =>
        assert(r.getAs[Long]("cust_span") < 2048L &&
          r.getAs[Long]("day_span") < 2048L, s"z-property violated: $r")
      }
  }

  test("q267 schema evolution: gen-1 files genuinely lack the column, NULLs surface") {
    val rows = graft.operators.Scale
      .q267SchemaEvolution(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet === Set(1L, 2L), s"both generations must be live: $rows")
    // every gen-1 row surfaces the evolved column as NULL — and the
    // NULL really comes from schema merging, not from data: the gen-1
    // files must NOT carry the column at all
    assert(rows(1L).getLong(2) === rows(1L).getLong(1),
      s"gen-1 nulls must equal gen-1 rows: ${rows(1L)}")
    assert(rows(1L).isNullAt(3), s"gen-1 sum over no values must be NULL: ${rows(1L)}")
    assert(rows(2L).getLong(2) === 0L, s"gen-2 must carry the column: ${rows(2L)}")
    val g1 = s"/tmp/graft_schevo_q267_${ProcessHandle.current().pid()}" +
      "_root_testdata_sf0.001/g1"
    assert(!spark.read.parquet(g1).schema.fieldNames.contains("o_band"),
      "gen-1 files carry o_band — the evolution scenario is vacuous")
  }

  test("q266 split leakage: crafted span matrix incl. a three-way cluster") {
    import graft.operators.TextOps
    // c1 spans train/test; c2 has 2 train + 1 val; c3 sits wholly in
    // test (must NOT appear); c4 spans all three splits (contributes
    // one cluster to every pair)
    val clusters = Seq(
      (1L, 101L), (2L, 101L),
      (3L, 102L), (4L, 102L), (5L, 102L),
      (6L, 103L), (7L, 103L),
      (8L, 104L), (9L, 104L), (10L, 104L))
      .toDF("doc_id", "canonical_id")
    val splits = Seq(
      1L -> "train", 2L -> "test",
      3L -> "train", 4L -> "train", 5L -> "val",
      6L -> "test", 7L -> "test",
      8L -> "train", 9L -> "val", 10L -> "test")
      .toDF("doc_id", "split")
    val got = TextOps.splitLeakage(clusters, splits).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got === Map(
      ("test", "train") -> ((2L, 2L, 2L)),  // c1 + c4
      ("test", "val") -> ((1L, 1L, 1L)),    // c4
      ("train", "val") -> ((2L, 3L, 2L))),  // c2 (2 train docs) + c4
      s"leakage matrix: $got")
  }

  test("q265 hard negatives: membership consistency vs q27, boundary, honest unknowns") {
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val sem = VectorOps.q27KnnCosine(spark, d).collect()
      .filter(_.getLong(0) < 3L)
      .map(r => (r.getLong(0), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("score")).toMap
    val min10 = sem.groupBy(_._1._1).map { case (q, m) => q -> m.values.min }
    val rows = VectorOps.q265HardNegatives(spark, d).collect()
    assert(rows.nonEmpty && rows.exists(r =>
      !r.isNullAt(5) && r.getLong(5) == 1L), "no live hard negative")
    rows.foreach { r =>
      val (q, doc) = (r.getLong(0), r.getLong(2))
      val inSem = r.getLong(4)
      // membership column must agree with q27's own output
      assert((inSem == 1L) === sem.contains((q, doc)),
        s"in_sem_topk disagrees with q27 at ($q, $doc)")
      if (r.isNullAt(3)) {
        // no embedding -> label must be the honest NULL, never a 0/1
        assert(r.isNullAt(5), s"unknown candidate got a label: $r")
        assert(inSem == 0L)
      } else {
        val cos = r.getDouble(3)
        assert(r.getLong(5) == 1L - inSem, s"label/membership mismatch: $r")
        // a hard negative's similarity can never exceed the query's
        // exact 10th-best score (it lost that top-10)
        if (r.getLong(5) == 1L)
          assert(cos <= min10(q) + 1e-9,
            s"hard negative above the top-10 floor: $r vs ${min10(q)}")
        // the query's own doc is excluded by construction
        assert(doc != q, s"self-pair leaked: $r")
      }
    }
  }

  test("q263 MW reweighting: JVM replay, identical-sources fixed point, direction") {
    import graft.operators.TextOps
    // skewed corpus: src_b carries 2 rare tokens in 1000 — a subtle
    // ~1.4e7 nano-nat surprisal excess (inside the 2e7 MW margin;
    // grosser skew must trip the guard, asserted below)
    val toks = (Seq.fill(1000)(("src_a", "common")) ++
      Seq.fill(998)(("src_b", "common")) ++ Seq.fill(2)(("src_b", "rare")))
      .toDF("source", "term")
    val got = TextOps.domainReweight(toks).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // independent replay: the same grid arithmetic from first principles
    val cf = Map("common" -> 1998L, "rare" -> 2L)
    val n = 2000L
    def grid(x: Long) = math.floor(math.log(x.toDouble) * 1e6 + 0.5).toLong
    def msurp(tf: Map[String, Long]) = {
      val nt = tf.values.sum
      val sl = tf.map { case (t, c) => c * grid(cf(t)) }.sum
      math.floor((nt * grid(n) - sl) * 1000.0 / nt).toLong
    }
    val (ma, mb) = (msurp(Map("common" -> 1000L)),
      msurp(Map("common" -> 998L, "rare" -> 2L)))
    val meanAll = (1000L * ma + 1000L * mb) / 2000L
    val d = TextOps.MwMargin
    val fsum = 2L * d + (ma + mb) - 2L * meanAll
    def w(m: Long) = (d + m - meanAll) * 1000000L / fsum
    assert(got("src_a") === ((1000L, ma, ma - meanAll, 500000L, w(ma),
      w(ma) - 500000L)), s"src_a replay: ${got("src_a")}")
    assert(got("src_b") === ((1000L, mb, mb - meanAll, 500000L, w(mb),
      w(mb) - 500000L)), s"src_b replay: ${got("src_b")}")
    // the guard is live: a gross skew (half rare) must fail loudly,
    // not emit a negative or saturated weight
    val gross = (Seq.fill(90)(("g_a", "common")) ++
      Seq.fill(5)(("g_b", "common")) ++ Seq.fill(5)(("g_b", "rare")))
      .toDF("source", "term")
    val e = intercept[Exception] {
      TextOps.domainReweight(gross).collect()
    }
    assert(e.getMessage.contains("exceeds the MW margin"),
      s"expected the margin guard, got: ${e.getMessage}")
    // direction: the worse-modeled source gains, and strictly
    assert(mb > ma && w(mb) > 500000L && w(ma) < 500000L,
      s"MW direction violated: $ma $mb ${w(ma)} ${w(mb)}")
    // fixed point: identical per-source distributions -> excess 0,
    // weights exactly uniform
    val unif = (Seq.fill(10)(("s1", "x")) ++ Seq.fill(10)(("s2", "x")))
      .toDF("source", "term")
    TextOps.domainReweight(unif).collect().foreach { r =>
      assert(r.getAs[Long]("excess_nano") === 0L &&
        r.getAs[Long]("delta_ppm") === 0L, s"uniform fixed point: $r")
    }
  }

  test("q262 HLL: independent JVM sketch replay, LC branch, duplicate-insensitive") {
    import graft.operators.TextOps
    // crafted streams: a 1000-term source (raw-estimate branch), a
    // 5-term source (linear-counting branch) — every term fed TWICE to
    // prove the sketch is duplicate-insensitive
    val terms = (0 until 1000).map(i => ("big", s"term_$i")) ++
      (0 until 5).map(i => ("tiny", s"t$i"))
    val toks = (terms ++ terms).toDF("source", "term")
    val got = TextOps.hllDistinct(toks).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    // full JVM replay from first principles (no TextOps arithmetic)
    val md = java.security.MessageDigest.getInstance("MD5")
    def replay(ts: Seq[String]): (Long, Long, Long, Long) = {
      val regs = new Array[Long](256)
      ts.distinct.foreach { t =>
        val hex = md.digest(t.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val b = Integer.parseInt(hex.substring(0, 2), 16)
        val v = java.lang.Long.parseLong(hex.substring(2, 10), 16)
        val rho = if (v == 0L) 33L else 33L - (64 - java.lang.Long.numberOfLeadingZeros(v))
        regs(b) = math.max(regs(b), rho)
      }
      val hit = regs.count(_ > 0L).toLong
      val s = regs.map(m => 1L << (40 - m)).sum // m=0 contributes 2^40
      val alphaL = 0.7213 / (1 + 1.079 / 256.0) * 256.0 * 256.0 * math.pow(2.0, 40)
      val raw = math.floor(alphaL / s.toDouble).toLong
      val zeros = 256L - hit
      val est = if (raw <= 640L && zeros > 0L)
        math.floor(256.0 * math.log(256.0 / zeros) + 0.5).toLong else raw
      val n = ts.distinct.size.toLong
      (n, hit, est, math.abs(est - n) * 1000000L / n)
    }
    val eBig = replay((0 until 1000).map(i => s"term_$i"))
    val eTiny = replay((0 until 5).map(i => s"t$i"))
    assert(got("big") === eBig, s"big-source sketch diverged: ${got("big")} vs $eBig")
    assert(got("tiny") === eTiny, s"tiny-source sketch diverged: ${got("tiny")} vs $eTiny")
    // branch sanity: the big source must take the raw branch with a
    // plausible estimate; the tiny one linear counting, near-exact
    assert(eBig._3 > 640L && math.abs(eBig._3 - 1000L) < 200L,
      s"raw-branch estimate off: $eBig")
    assert(eTiny._3 >= 4L && eTiny._3 <= 6L, s"LC estimate off: $eTiny")
    // live error bound at sf0.001: 3 sigma of the m=256 HLL (1.04/16)
    TextOps.q262HllDistinct(spark, "/root/testdata/sf0.001")
      .collect().foreach { r =>
        assert(r.getAs[Long]("err_ppm") <= 200000L,
          s"HLL error beyond 3 sigma at ${r.getString(0)}: $r")
      }
  }

  test("q261 hybrid robustness: crafted strict-win trace + live fused ≥ arms") {
    import graft.operators.TextOps
    // crafted lists for query 0: lexical anchor doc 100, semantic
    // anchor doc 200. The lex arm holds its own anchor at rank 1 and
    // the semantic anchor deep at rank 7 (rr 1e6 div 7 = 142857); the
    // sem arm misses the lexical anchor entirely (robust 0); the fused
    // list carries both anchors at ranks 2 and 1.
    val lex = Seq((0L, 100L, 1L), (0L, 300L, 2L), (0L, 200L, 7L))
      .toDF("query_id", "doc_id", "rank")
    val sem = Seq((0L, 200L, 1L), (0L, 400L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val fused = Seq((0L, 200L, 1L), (0L, 100L, 2L), (0L, 300L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val lexTop = Seq((0L, 100L)).toDF("query_id", "t_lex")
    val semTop = Seq((0L, 200L)).toDF("query_id", "t_sem")
    val r = TextOps.hybridEval(lex, sem, fused, lexTop, semTop)
      .collect().map(r => (0 until 10).map(i => r.getLong(i)))
    assert(r.toSeq === Seq(Seq(0L,
      1000000L, 142857L, 142857L,   // lex arm: own anchor 1st, sem anchor rank 7
      0L, 1000000L, 0L,             // sem arm: lexical anchor absent
      500000L, 1000000L, 500000L)), // fused: both anchors up top — strict win
      s"crafted trace: ${r.toSeq}")
    // live invariant at sf0.001: the fused list's robust score beats
    // (or ties) BOTH single arms' on every query — the recorded RRF
    // property the query exists to show
    TextOps.q261HybridEval(spark, "/root/testdata/sf0.001")
      .collect().foreach { row =>
        val (l, s, f) = (row.getAs[Long]("lex_robust"),
          row.getAs[Long]("sem_robust"), row.getAs[Long]("fused_robust"))
        assert(f >= math.max(l, s),
          s"fused robust below an arm at query ${row.getLong(0)}: $l $s $f")
      }
  }

  test("q186/q187 stream-batch parity pair shares ONE mirror (lockstep)") {
    // q187's oracle deliberately IS q186's (stream ≡ batch parity as a
    // driver row). Reference equality, not string equality: a future
    // edit that forks the SQL text must fail here even if the fork
    // starts out byte-identical.
    assert(SparkEntry.oracleSql("q187_stream_ohlc") eq
      SparkEntry.oracleSql("q186_ohlc_bars"),
      "q186/q187 mirrors diverged — they must stay the same val " +
        "(EventOps.q186OhlcBarsSql); see the comments at both " +
        "definitions in SparkEntry.oracleSql")
  }

  test("q202 ols trend: equals brute-force least squares on the daily series") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val got = EventOps.q202OlsTrend(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    val daily = graft.sources.Tables.events(spark, d)
      .select($"event_type", $"ts".cast("long").as("sec")).collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400L))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((typ, day), n) => (typ, day, n) }
    daily.groupBy(_._1).foreach { case (typ, rs) =>
      val d0 = rs.map(_._2).min
      val pts = rs.map(t => ((t._2 - d0).toDouble, t._3.toDouble))
      val n = pts.length.toDouble
      val st = pts.map(_._1).sum; val sx = pts.map(_._2).sum
      val stx = pts.map(t => t._1 * t._2).sum
      val stt = pts.map(t => t._1 * t._1).sum
      val sxx = pts.map(t => t._2 * t._2).sum
      val slope = (n * stx - st * sx) / (n * stt - st * st)
      val intercept = (sx - slope * st) / n
      val r2 = math.pow(n * stx - st * sx, 2) /
        ((n * stt - st * st) * (n * sxx - sx * sx))
      val row = got(typ)
      assert(math.abs(row.getAs[Double]("slope") - slope) < 2e-6)
      assert(math.abs(row.getAs[Double]("intercept") - intercept) < 2e-5)
      val gr2 = row.getAs[Double]("r2")
      assert(math.abs(gr2 - r2) < 2e-6)
      assert(gr2 >= 0.0 && gr2 <= 1.0 + 1e-9)
      // the fitted line must reproduce the series mean at t = mean(t)
      // (tolerance: the emitted intercept derives from the GRIDDED
      // slope, whose ±5e-7 grid error is amplified by mean(t))
      assert(math.abs(
        row.getAs[Double]("intercept") + slope * (st / n) - sx / n) < 1e-4)
    }
  }

  test("q203 cusum: equals brute-force max-excursion change point") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val got = EventOps.q203CusumShift(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    val daily = graft.sources.Tables.events(spark, d)
      .select($"event_type", $"ts".cast("long").as("sec")).collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400L))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((typ, day), n) => (typ, day, n) }
    daily.groupBy(_._1).foreach { case (typ, rs) =>
      val series = rs.sortBy(_._2)
      val n = series.length.toLong
      val sx = series.map(_._3).sum
      var cx = 0L
      // (|C_i|, day, cx, i) per index; earliest day wins the argmax tie
      val cs = series.zipWithIndex.map { case ((_, day, x), idx) =>
        cx += x
        (math.abs(n * cx - (idx + 1).toLong * sx), day, cx, idx + 1L)
      }
      val maxDev = cs.map(_._1).max
      val (_, cpDay, cpCx, cpI) = cs.filter(_._1 == maxDev).minBy(_._2)
      val row = got(typ)
      assert(row.getAs[Long]("max_dev_scaled") === maxDev)
      val expDay = java.time.LocalDate.ofEpochDay(cpDay).toString
      assert(row.getAs[String]("cp_day") === expDay)
      assert(math.abs(
        row.getAs[Double]("mean_before") - cpCx.toDouble / cpI) < 2e-6)
      if (n > cpI)
        assert(math.abs(row.getAs[Double]("mean_after") -
          (sx - cpCx).toDouble / (n - cpI)) < 2e-6)
      else assert(row.isNullAt(row.fieldIndex("mean_after")))
    }
  }

  test("q204 benford: digit census matches brute force, spine complete") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q204BenfordAudit(spark, d).collect()
    assert(rows.map(_.getAs[Int]("digit")).toSeq === (1 to 9))
    val cents = graft.sources.Tables.lineitem(spark, d)
      .select($"l_extendedprice").collect()
      .map(r => math.floor(r.getDouble(0) * 100.0 + 0.5).toLong)
      .filter(_ > 0L)
    val counts = cents.groupBy(_.toString.head.asDigit).view
      .mapValues(_.length.toLong).toMap
    val total = cents.length.toLong
    rows.foreach { r =>
      val dg = r.getAs[Int]("digit")
      val n = r.getAs[Long]("n")
      assert(n === counts.getOrElse(dg, 0L))
      assert(r.getAs[Long]("obs_ppm") === n * 1000000L / total)
      assert(r.getAs[Long]("dev_ppm") ===
        math.abs(r.getAs[Long]("obs_ppm") - r.getAs[Long]("exp_ppm")))
    }
    // observed shares are a distribution (floor division undercounts
    // by at most 9 ppm total); expected shares sum to ~1e6 by Benford
    val obsSum = rows.map(_.getAs[Long]("obs_ppm")).sum
    assert(obsSum > 999990L && obsSum <= 1000000L)
    assert(math.abs(rows.map(_.getAs[Long]("exp_ppm")).sum - 1000000L) <= 5L)
  }

  test("q205 prefix join: zero false negatives vs brute force (crafted + corpus)") {
    import graft.operators.TextOps
    // crafted shingle-set geometry: identical pair, boundary pair
    // (J exactly 0.8 must be KEPT), near-miss pair (J just under),
    // and a disjoint doc. Shingles are 3-grams, so texts are built to
    // control the shingle sets directly.
    val docs = Seq(
      (1L, "a b c d e f"),       // shingles: abc bcd cde def (m=4)
      (2L, "a b c d e f"),       // identical to 1 → J=1.0, kept
      (3L, "a b c d e f g"),     // m=5, inter(1,3)=4 → J=4/5 boundary, kept
      (4L, "a b c d x y z w"),   // m=6, inter(1,4)=2 → J=0.25, dropped
      (5L, "p q r s t u")        // disjoint
    ).toDF("doc_id", "text")
    val got = TextOps.prefixSimPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(got === Set((1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
    // corpus completeness: brute-force all-pairs shingle Jaccard at
    // sf0.001 must find EXACTLY the emitted pairs (the zero-false-
    // negative guarantee LSH cannot make)
    val d = "/root/testdata/sf0.001"
    val corpus = TextOps.q205PrefixSimJoin(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"text").collect()
      .map { r =>
        val w = r.getString(1).split(" ", -1)
        r.getLong(0) -> w.sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty).sortBy(_._1)
    val expected = (for {
      i <- sets.indices.iterator; j <- (i + 1) until sets.length
      (da, sa) = sets(i); (db, sb) = sets(j)
      inter = (sa & sb).size.toLong
      if 9L * inter >= 4L * (sa.size + sb.size)
    } yield (da, db)).toSet
    assert(corpus === expected)
    assert(corpus.nonEmpty)
  }

  test("q206 theil-sen: equals brute-force median of pairwise gridded slopes") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val got = EventOps.q206TheilSen(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    val daily = graft.sources.Tables.events(spark, d)
      .select($"event_type", $"ts".cast("long").as("sec")).collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400L))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((typ, day), n) => (typ, day, n) }
    daily.groupBy(_._1).foreach { case (typ, rs) =>
      val pts = rs.sortBy(_._2)
      val slopes = (for {
        i <- pts.indices.iterator; j <- (i + 1) until pts.length
      } yield math.floor((pts(j)._3 - pts(i)._3).toDouble /
          (pts(j)._2 - pts(i)._2) * 1000000.0 + 0.5).toLong).toSeq.sorted
      val n = slopes.length
      // lower median: first value whose cumulative count doubles past n
      val med = slopes((n - 1) / 2)
      val row = got(typ)
      assert(row.getAs[Long]("n_pairs") === n.toLong)
      assert(row.getAs[Long]("ts_slope_ppm") === med,
        s"$typ: ${row.getAs[Long]("ts_slope_ppm")} vs $med")
      assert(row.getAs[Long]("min_slope_ppm") === slopes.head)
      assert(row.getAs[Long]("max_slope_ppm") === slopes.last)
    }
  }

  test("q207 backtest: WAPE equals brute-force calendar-lag errors") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val got = EventOps.q207NaiveBacktest(spark, d).collect()
      .map(r => (r.getString(0), r.getAs[Int]("horizon_days")) -> r).toMap
    val daily = graft.sources.Tables.events(spark, d)
      .select($"event_type", $"ts".cast("long").as("sec")).collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400L))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((typ, day), n) => (typ, day, n) }
    daily.groupBy(_._1).foreach { case (typ, rs) =>
      val byDay = rs.map(t => t._2 -> t._3).toMap
      for (h <- Seq(1, 7)) {
        val scored = byDay.toSeq.filter { case (day, _) =>
          byDay.contains(day - h) }
        val sumErr = scored.map { case (day, x) =>
          math.abs(x - byDay(day - h)) }.sum
        val sumAct = scored.map(_._2).sum
        val row = got((typ, h))
        assert(row.getAs[Long]("n_days") === scored.length.toLong)
        assert(row.getAs[Long]("sum_abs_err") === sumErr)
        assert(row.getAs[Long]("sum_actual") === sumAct)
        assert(row.getAs[Long]("wape_ppm") === sumErr * 1000000L / sumAct)
        // seasonal-naive scores fewer-or-equal days than persistence
      }
    }
  }

  test("q208 skyline: equals brute-force pairwise dominance") {
    import graft.operators.TextOps
    import graft.functions.Text
    val d = "/root/testdata/sf0.001"
    val got = TextOps.q208SkylineFrontier(spark, d).collect()
      .map(_.getLong(0)).toSet
    val pts = graft.sources.Tables.documents(spark, d)
      .select($"doc_id",
        floor(Text.qualityScore($"text") * 1e4 + 0.5).cast("long").as("qg"),
        Text.tokenCount($"text").cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = pts.filter { case (_, q, n) =>
      !pts.exists { case (_, q2, n2) =>
        q2 >= q && n2 >= n && (q2 > q || n2 > n) }
    }.map(_._1).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("q209 rolling actives: WAU equals brute-force 7-day distinct") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val got = EventOps.q209RollingActives(spark, d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val ud = graft.sources.Tables.events(spark, d)
      .select($"user_id", $"ts".cast("long").as("sec")).collect()
      .map(r => (r.getLong(0), r.getLong(1) / 86400L)).distinct
    val activeDays = ud.map(_._2).distinct.sorted
    assert(got.keySet === activeDays.toSet)
    activeDays.foreach { day =>
      val dau = ud.count(_._2 == day).toLong
      val wau = ud.filter(t => t._2 <= day && t._2 >= day - 6L)
        .map(_._1).distinct.length.toLong
      val row = got(day)
      assert(row.getAs[Long]("dau") === dau)
      assert(row.getAs[Long]("wau7") === wau, s"day $day")
      assert(row.getAs[Long]("stickiness_ppm") === dau * 1000000L / wau)
      assert(dau <= wau)
    }
  }

  test("q210 t-closeness: TVD equals brute-force distribution distance") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val got = TextOps.q210TCloseness(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    val base = graft.sources.Tables.documents(spark, d)
      .filter($"text".isNotNull)
      .select($"source", $"n_chars".cast("long"), $"lang").collect()
      .map(r => (r.getString(0), r.getLong(1) / 50L, r.getString(2)))
    val g = base.length.toLong
    val glang = base.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    base.groupBy(t => (t._1, t._2)).foreach { case (cls, rows) =>
      val k = rows.length.toLong
      val klang = rows.groupBy(_._3).view.mapValues(_.length.toLong).toMap
      val num = glang.map { case (lang, gl) =>
        math.abs(klang.getOrElse(lang, 0L) * g - gl * k) }.sum
      val tvd = math.floor(num.toDouble * 500000.0 / (k.toDouble * g) + 0.5).toLong
      val row = got(cls)
      assert(row.getAs[Long]("k") === k)
      assert(row.getAs[Long]("tvd_ppm") === tvd)
      assert(tvd >= 0L && tvd <= 1000000L)
      assert(row.getAs[Boolean]("at_risk") === (tvd > 300000L))
    }
  }

  test("q211 join cardinality: estimator replay + FK exact count") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q211JoinCardEst(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    // the lineitem->orders FK join's exact count is |lineitem|
    val nLi = graft.sources.Tables.lineitem(spark, d).count()
    assert(rows("lineitem_orders").getAs[Long]("exact_rows") === nLi)
    assert(rows("lineitem_part").getAs[Long]("exact_rows") === nLi)
    // estimator replay from raw keys for the orders join
    val lks = graft.sources.Tables.lineitem(spark, d)
      .select($"l_orderkey").collect().map(_.getLong(0))
    val oks = graft.sources.Tables.orders(spark, d)
      .select($"o_orderkey").collect().map(_.getLong(0))
    def stats(ks: Array[Long]) = ks.groupBy(_ % 1024L).view
      .mapValues(v => (v.length.toLong, v.distinct.length.toLong)).toMap
    val (sa, sb) = (stats(lks), stats(oks))
    val est = sa.keysIterator.filter(sb.contains).map { b =>
      val (na, nda) = sa(b); val (nb, ndb) = sb(b)
      na * nb / math.max(nda, ndb)
    }.sum
    val row = rows("lineitem_orders")
    assert(row.getAs[Long]("est_rows") === est)
    assert(row.getAs[Long]("err_ppm") ===
      math.abs(est - nLi) * 1000000L / nLi)
  }

  test("q212 twap: equals brute-force interval weighting") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val got = EventOps.q212Twap(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ticks = graft.sources.Tables.events(spark, d)
      .select($"event_type", date_format($"ts", "yyyy-MM-dd").as("day"),
        $"ts".cast("long").as("tsec"), $"event_id", $"value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), math.floor(r.getDouble(4) * 100.0 + 0.5).toLong))
    ticks.groupBy(t => (t._1, t._2)).foreach { case (key, rs) =>
      val srt = rs.sortBy(t => (t._3, t._4))
      val ivs = srt.zip(srt.tail).map { case (a, b) => (a._5, b._3 - a._3) }
      val den = ivs.map(_._2).sum
      if (ivs.nonEmpty && den > 0L) {
        val num = ivs.map(t => t._1 * t._2).sum
        val row = got(key)
        assert(row.getAs[Long]("n_intervals") === ivs.length.toLong)
        assert(math.abs(row.getAs[Double]("twap") -
          num.toDouble / den / 100.0) < 2e-6)
        // TWAP stays inside the day's price range
        val (lo, hi) = (srt.map(_._5).min / 100.0, srt.map(_._5).max / 100.0)
        assert(row.getAs[Double]("twap") >= lo - 1e-6)
        assert(row.getAs[Double]("twap") <= hi + 1e-6)
      } else assert(!got.contains(key))
    }
  }

  test("q213 gram matrix: equals brute-force gridded sums, full triangle") {
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val rows = VectorOps.q213GramMatrix(spark, d).collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq ===
      (for { i <- 0 until 16; j <- i until 16 } yield (i, j)))
    val vecs = graft.sources.Tables.embeddings(spark, d)
      .filter($"embedding".isNotNull)
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    rows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val exp = vecs.map { v =>
        math.floor(v(i).toDouble * v(j).toDouble * 1000000.0 + 0.5).toLong
      }.sum
      assert(r.getAs[Long]("gram_micro") === exp, s"cell ($i,$j)")
      assert(r.getAs[Long]("n") === vecs.length.toLong)
    }
    // diagonal cells are sums of squares: non-negative
    rows.filter(r => r.getInt(0) == r.getInt(1))
      .foreach(r => assert(r.getAs[Long]("gram_micro") >= 0L))
  }

  test("q214 isotonic: equals JVM minimax-PAVA replay, monotone") {
    import graft.operators.TextOps
    val d = "/root/testdata/sf0.001"
    val base = TextOps.q185Calibration(spark, d).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_rules_pass"))).sortBy(_._1)
    val got = TextOps.q214IsotonicCalibration(spark, d).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("raw_rate_ppm"), r.getAs[Long]("iso_rate_ppm")))
      .toMap
    assert(got.keySet === base.map(_._1).toSet)
    val w = base.map(_._2); val y = base.map(_._3); val nB = base.length
    val cw = w.scanLeft(0L)(_ + _); val cy = y.scanLeft(0L)(_ + _)
    def r(j: Int, k: Int): Long =
      (cy(k + 1) - cy(j)) * 1000000L / (cw(k + 1) - cw(j))
    val fit = (0 until nB).map { i =>
      (0 to i).map { j => (i until nB).map(k => r(j, k)).min }.max
    }
    base.zipWithIndex.foreach { case ((b, wb, yb), i) =>
      val (raw, iso) = got(b)
      assert(raw === yb * 1000000L / wb)
      assert(iso === fit(i), s"bucket $b")
    }
    // the fitted curve is non-decreasing in the bucket order
    val isoSeq = base.map(t => got(t._1)._2)
    assert(isoSeq.zip(isoSeq.tail).forall { case (a, b) => a <= b })
    // and stays inside the raw-rate envelope
    val raws = base.map(t => got(t._1)._1)
    isoSeq.foreach(v => assert(v >= raws.min && v <= raws.max))
  }

  test("q215 fisher scatter: equals brute-force label decomposition") {
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val rows = VectorOps.q215FisherScatter(spark, d).collect()
    val vecs = graft.sources.Tables.embeddings(spark, d)
      .filter($"embedding".isNotNull)
      .select($"label", $"embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    rows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val byLabel = vecs.groupBy(_._1)
      val between = byLabel.values.map { vs =>
        val sxi = vs.map(v => math.floor(v._2(i) * 1000.0 + 0.5).toLong).sum
        val sxj = vs.map(v => math.floor(v._2(j) * 1000.0 + 0.5).toLong).sum
        math.floor(sxi.toDouble * sxj / vs.length + 0.5).toLong
      }.sum
      assert(r.getAs[Long]("between_micro") === between, s"cell ($i,$j)")
      assert(r.getAs[Long]("within_micro") ===
        r.getAs[Long]("gram_micro") - between)
    }
    // diagonal within-scatter is a (gridded) sum of squared deviations:
    // non-negative up to the two grids' rounding slack
    rows.filter(r => r.getInt(0) == r.getInt(1))
      .foreach(r => assert(r.getAs[Long]("within_micro") >= -r.getAs[Long]("n")))
  }

  test("q216 trigrams: equals brute-force sequential triples") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val rows = EventOps.q216PathTrigrams(spark, d).collect()
    val evs = graft.sources.Tables.events(spark, d)
      .select($"user_id", $"event_type", $"ts".cast("long"), $"event_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expected = evs.groupBy(_._1).values.flatMap { us =>
      val srt = us.sortBy(t => (t._3, t._4)).map(_._2)
      srt.sliding(3).filter(_.length == 3).map(w => (w(0), w(1), w(2)))
    }.toSeq.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = expected.values.sum
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet === expected.keySet)
    rows.foreach { r =>
      val key = (r.getString(0), r.getString(1), r.getString(2))
      assert(r.getAs[Long]("n") === expected(key))
      assert(r.getAs[Long]("share_ppm") === expected(key) * 1000000L / total)
    }
  }

  test("q217 contract battery: all green on the driver corpus, counts exact") {
    import graft.operators.Relational
    val d = "/root/testdata/sf0.001"
    val rows = Relational.q217ContractChecks(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.size === 9)
    // the corpus satisfies every real contract (the zeros are the
    // audited fact) — EXCEPT the deliberately-violated 2-column
    // uniqueness row, which proves the battery detects failures
    rows.values.foreach { r =>
      if (r.getString(0) == "lineitem_line2_unique_violated") {
        assert(r.getAs[Long]("n_violations") > 0L)
        assert(!r.getAs[Boolean]("pass"))
      } else if (r.getString(0) == "lineitem_composite_pk_unique") {
        // sf0.001 genuinely carries ONE duplicated composite tuple
        // (the discovery that hardened q9's window tie-break) —
        // assert the count against an independent recomputation
        val dup = graft.sources.Tables.lineitem(spark, d)
          .groupBy($"l_orderkey", $"l_linenumber", $"l_partkey",
            $"l_suppkey")
          .count().filter($"count" > 1L).count()
        assert(r.getAs[Long]("n_violations") === dup)
        assert(r.getAs[Boolean]("pass") === (dup == 0L))
      } else {
        assert(r.getAs[Long]("n_violations") === 0L, r.getString(0))
        assert(r.getAs[Boolean]("pass"))
      }
    }
    // and the FK check genuinely counts: a crafted orphan is caught
    val li = graft.sources.Tables.lineitem(spark, d)
    val orphans = li.select(($"l_orderkey" + 1000000000L).as("l_orderkey"))
      .limit(3)
      .join(graft.sources.Tables.orders(spark, d),
        $"l_orderkey" === $"o_orderkey", "left_anti").count()
    assert(orphans === 3L)
  }

  test("q218 streaks: equals brute-force consecutive-day runs") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val got = EventOps.q218StreakDist(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ud = graft.sources.Tables.events(spark, d)
      .select($"user_id", $"ts".cast("long").as("sec")).collect()
      .map(r => (r.getLong(0), r.getLong(1) / 86400L)).distinct
    val best = ud.groupBy(_._1).view.mapValues { rs =>
      val days = rs.map(_._2).distinct.sorted
      var run = 1L; var mx = 1L
      days.zip(days.tail).foreach { case (a, b) =>
        run = if (b == a + 1) run + 1 else 1L; mx = math.max(mx, run) }
      mx
    }.toMap
    val expected = best.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    assert(got === expected)
    assert(got.values.sum === best.size.toLong)
  }

  test("q219 ab test: equals brute-force arm split and z statistic") {
    import graft.operators.EventOps
    import java.security.MessageDigest
    val d = "/root/testdata/sf0.001"
    val got = EventOps.q219AbTest(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    val evs = graft.sources.Tables.events(spark, d)
      .select($"user_id", $"event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def md5hex(x: String): String = MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val byUser = evs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val arms = byUser.keys.map(u => u -> (md5hex(u.toString).head < '8')).toMap
    for (m <- Seq("click", "purchase", "error")) {
      val (aU, bU) = byUser.keys.partition(arms)
      val (na, nb) = (aU.size.toLong, bU.size.toLong)
      val ca = aU.count(u => byUser(u).contains(m)).toLong
      val cb = bU.count(u => byUser(u).contains(m)).toLong
      val row = got(m)
      assert(row.getAs[Long]("n_a") === na)
      assert(row.getAs[Long]("conv_a") === ca)
      assert(row.getAs[Long]("conv_b") === cb)
      assert(row.getAs[Long]("rate_a_ppm") === ca * 1000000L / na)
      if (ca + cb > 0 && ca + cb < na + nb) {
        val p1 = ca.toDouble / na; val p2 = cb.toDouble / nb
        val pp = (ca + cb).toDouble / (na + nb)
        val z = (p1 - p2) * (p1 - p2) /
          (pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
        assert(math.abs(row.getAs[Long]("z_sq_micro") -
          math.floor(z * 1000000.0 + 0.5)) <= 1L)
        assert(row.getAs[Boolean]("significant") ===
          (row.getAs[Long]("z_sq_micro") >= 3841600L))
      } else {
        assert(row.isNullAt(row.fieldIndex("z_sq_micro")))
        assert(!row.getAs[Boolean]("significant"))
      }
    }
  }

  // Full JVM replay of VectorOps.lloydOneStep's refined assignment:
  // seed cells = vec_id < 16, argmax-cosine assign (ties -> min cell),
  // gridded per-dim means, re-assign. Shared by the q220/q221 replays.
  private def lloydReplay(d: String): (Map[Long, Int], Map[Int, Array[Double]], Map[Long, Array[Float]]) = {
    val vecs = graft.sources.Tables.embeddings(spark, d)
      .filter($"embedding".isNotNull)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val dbl = vecs.view.mapValues(_.map(_.toDouble)).toMap
    val seeds = vecs.keys.filter(_ < 16L).toSeq.sorted
      .map(id => id.toInt -> dbl(id)).toMap
    def assign(cents: Map[Int, Array[Double]]): Map[Long, Int] =
      dbl.map { case (id, v) =>
        id -> cents.toSeq.map { case (c, cv) => (cos(v, cv), c) }
          .sortBy(t => (-t._1, t._2)).head._2
      }
    val a0 = assign(seeds)
    val dim = dbl.head._2.length
    val cents1 = a0.groupBy(_._2).map { case (c, members) =>
      val ids = members.keys.toSeq
      val n = ids.size
      c -> Array.tabulate(dim) { i =>
        ids.map(id => math.floor(vecs(id)(i).toDouble * 1e6 + 0.5)).sum /
          (n * 1e6)
      }
    }
    (assign(cents1), cents1, vecs)
  }

  test("q220 silhouette: equals full JVM lloyd + silhouette replay") {
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val got = VectorOps.q220Silhouette(spark, d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val (a1, cents1, vecs) = lloydReplay(d)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val sil = a1.toSeq.map { case (id, own) =>
      val v = vecs(id).map(_.toDouble)
      val ga = math.floor((1.0 - cos(v, cents1(own))) * 1e6 + 0.5).toLong
      val bcos = cents1.filter(_._1 != own).values.map(cos(v, _)).max
      val gb = math.floor((1.0 - bcos) * 1e6 + 0.5).toLong
      val s0 = if (math.max(ga, gb) > 0L)
        math.floor((gb - ga).toDouble * 1000000.0 / math.max(ga, gb) + 0.5).toLong
      else 0L
      (own, s0)
    }
    sil.groupBy(_._1).foreach { case (cell, ss) =>
      val row = got(cell.toLong)
      assert(row.getAs[Long]("n") === ss.size.toLong)
      assert(row.getAs[Long]("mean_sil_micro") ===
        math.floor(ss.map(_._2).sum.toDouble / ss.size + 0.5).toLong, s"cell $cell")
      assert(row.getAs[Long]("min_sil_micro") === ss.map(_._2).min)
      assert(row.getAs[Long]("max_sil_micro") === ss.map(_._2).max)
    }
    assert(got.values.map(_.getAs[Long]("n")).sum === a1.size.toLong)
  }

  test("q221 density clusters: equals full JVM DBSCAN replay") {
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val got = VectorOps.q221DensityClusters(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (a1, _, vecs) = lloydReplay(d)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    // within-cell pairs among the first 512 per cell (all, at this SF)
    val byCell = a1.toSeq.groupBy(_._2).view
      .mapValues(_.map(_._1).sorted.take(512)).toMap
    val pairs = byCell.values.flatMap { ids =>
      for { i <- ids.indices; j <- (i + 1) until ids.length
            if math.floor(cos(vecs(ids(i)), vecs(ids(j))) * 1e6 + 0.5) >= 400000.0 }
        yield (ids(i), ids(j))
    }.toSeq
    val deg = pairs.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).view.mapValues(_.size).toMap
    val cores = deg.filter(_._2 >= 2).keySet
    val coreEdges = pairs.filter(p => cores(p._1) && cores(p._2))
    val border = pairs.flatMap { case (a, b) =>
      if (cores(a) && !cores(b)) Some(b)
      else if (!cores(a) && cores(b)) Some(a) else None
    }.toSet
    // union-find over core-core edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      if (parent.getOrElse(x, x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    }
    coreEdges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val edgeVerts = coreEdges.flatMap(p => Seq(p._1, p._2)).toSet
    val comps = edgeVerts.groupBy(find)
    val isoCores = cores -- edgeVerts
    assert(got("n_points") === a1.size.toLong)
    assert(got("n_eps_pairs") === pairs.size.toLong)
    assert(got("n_core") === cores.size.toLong)
    assert(got("n_border") === border.size.toLong)
    assert(got("n_noise") ===
      (a1.size - cores.size - border.size).toLong)
    assert(got("n_clusters") === (comps.size + isoCores.size).toLong)
    val maxSz = (comps.values.map(_.size) ++
      (if (isoCores.nonEmpty) Seq(1) else Nil)).maxOption.getOrElse(0)
    assert(got("max_cluster_size") === maxSz.toLong)
  }

  test("q222 containment: zero false negatives vs brute force (crafted + corpus)") {
    import graft.operators.TextOps
    // a short doc verbatim inside a long one: Jaccard tiny (q205 would
    // never pair them) but containment 1.0 — the asymmetric relation
    val note = "alpha beta gamma delta epsilon"
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, note),
      (2L, filler + " " + note),
      (3L, "p q r s t u v w"),
      (4L, "alpha beta gamma qq rr ss tt uu")
    ).toDF("doc_id", "text")
    val got = TextOps.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    // doc1 has 3 shingles, all inside doc2 → containment 1.0
    assert(got.contains((1L, 2L, 3L)))
    assert(!got.exists(t => t._1 == 3L || t._2 == 3L))
    // doc4 shares only 'alpha beta gamma' (1 of its 6 shingles) → out
    assert(!got.exists(t => t._1 == 4L))
    // corpus: brute-force all-pairs containment at sf0.001 must equal
    // the emitted set exactly (the asymmetric completeness guarantee)
    val d = "/root/testdata/sf0.001"
    val corpus = TextOps.q222ContainmentJoin(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", $"text").collect()
      .map { r =>
        val w = r.getString(1).split(" ", -1)
        r.getLong(0) -> w.sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty)
    val expected = (for {
      (da, sa) <- sets.iterator; (db, sb) <- sets.iterator
      if da != db
      inter = (sa & sb).size.toLong
      if 10L * inter >= 9L * sa.size
    } yield (da, db)).toSet
    assert(corpus === expected)
    assert(corpus.nonEmpty)
  }

  test("q223 hazard: equals brute-force life table with censoring live") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val got = EventOps.q223ConversionHazard(spark, d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val evs = graft.sources.Tables.events(spark, d)
      .select($"user_id", $"event_type", $"ts".cast("long"), $"value")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2) / 86400L,
        math.floor(r.getDouble(3) * 100.0 + 0.5).toLong))
    val hh = evs.map(_._3).max
    val byUser = evs.groupBy(_._1)
    // .values.toSeq first: Map#map over pair results would collapse
    // same-(converted, week) users into one entry
    val obs = byUser.values.toSeq.map { rs =>
      val f = rs.map(_._3).min
      val conv = rs.filter(t => t._2 == "purchase" && t._4 >= 9000L)
      if (conv.nonEmpty) (true, (conv.map(_._3).min - f) / 7L)
      else (false, (hh - f) / 7L)
    }
    val weeks = obs.map(_._2).distinct.sorted
    assert(got.keySet === weeks.toSet)
    weeks.foreach { w =>
      val row = got(w)
      val atRisk = obs.count(_._2 >= w).toLong
      val conv = obs.count(o => o._1 && o._2 == w).toLong
      val cens = obs.count(o => !o._1 && o._2 == w).toLong
      assert(row.getAs[Long]("n_at_risk") === atRisk)
      assert(row.getAs[Long]("n_converted") === conv)
      assert(row.getAs[Long]("n_censored") === cens)
      assert(row.getAs[Long]("hazard_ppm") === conv * 1000000L / atRisk)
    }
    // both branches of the life table are live on the driver corpus
    assert(obs.exists(_._1) && obs.exists(!_._1))
  }

  test("q224 attribution: equals brute-force first/last preceding touch") {
    import graft.operators.EventOps
    val d = "/root/testdata/sf0.001"
    val got = EventOps.q224Attribution(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("first_touch_convs"), r.getAs[Long]("last_touch_convs")))
      .toMap
    val evs = graft.sources.Tables.events(spark, d)
      .select($"user_id", $"event_type", $"ts".cast("long"), $"event_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val ft = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val lt = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    evs.groupBy(_._1).values.foreach { us =>
      // (tsec, kind, event_id): touches sort before a same-second purchase
      val srt = us.sortBy(t => (t._3, if (t._2 == "purchase") 1 else 0, t._4))
      var first: String = null; var last: String = null
      srt.foreach { t =>
        if (t._2 == "purchase") {
          ft(if (first == null) "none" else first) += 1L
          lt(if (last == null) "none" else last) += 1L
        } else { if (first == null) first = t._2; last = t._2 }
      }
    }
    val channels = (ft.keySet ++ lt.keySet).toSet
    assert(got.keySet === channels)
    channels.foreach { c =>
      assert(got(c)._1 === ft(c), s"first $c")
      assert(got(c)._2 === lt(c), s"last $c")
    }
    // both models conserve total conversions
    assert(got.values.map(_._1).sum === got.values.map(_._2).sum)
  }
  test("q225 BFS: crafted two-component graph — hop histogram and unreached") {
    // path 10-1-2-3-4 plus disjoint edge 5-6; seeds (mod 10) = {10}.
    // dists: 10→0, 1→1, 2→2, 3→3; node 4 is one hop past the 3-round
    // cap and 5/6 are in the unseeded component — 3 unreached total
    val edges = Seq((10L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))
      .toDF("pa", "pb")
    val got = graft.operators.Relational.bfsTrace(edges, 10L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map(
      "r0_frontier" -> 1L, "r1_frontier" -> 1L, "r2_frontier" -> 1L,
      "r3_frontier" -> 1L,
      "dist_0" -> 1L, "dist_1" -> 1L, "dist_2" -> 1L, "dist_3" -> 1L,
      "unreached" -> 3L), s"trace: $got")
  }

  test("q228 connected components: star collapses in one round, path walks") {
    // star 1-(2,3,4) collapses to label 1 immediately; the 10-…-14 path
    // pulls label 10 inward one hop per round — hand-traced counts
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)).toDF("pa", "pb")
    val got = graft.operators.Relational.ccTrace(edges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map(
      "r0_components" -> 9L,
      "r1_components" -> 5L, "r1_changed" -> 7L,
      "r2_components" -> 4L, "r2_changed" -> 3L,
      "r3_components" -> 3L, "r3_changed" -> 2L), s"trace: $got")
  }

  test("q226 ALS: brute-force replay of both half-steps and the L1 fit") {
    val dir = "/root/testdata/sf0.001"
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey", $"l_quantity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cust = graft.sources.Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ratings = li.groupBy { case (ok, pk, _) => (cust(ok), pk) }
      .map { case ((c, p), rows) =>
        (c, p, math.floor(rows.map(_._3).sum + 0.5).toLong) }.toSeq
    val ug = ratings.groupBy(_._1).map { case (c, rs) =>
      val sr = rs.map(_._3).sum
      c -> math.floor(sr.toDouble / (rs.size + 10).toDouble * 1000.0 + 0.5)
        .toLong
    }
    val vg = ratings.groupBy(_._2).map { case (p, rs) =>
      val nj = rs.map(r => r._3 * ug(r._1)).sum
      val dj = rs.map(r => ug(r._1) * ug(r._1)).sum
      p -> math.floor(nj.toDouble * 1e6 / (10000000L + dj).toDouble + 0.5)
        .toLong
    }
    val aes = ratings.map { case (c, p, r) =>
      math.abs(r * 1000000L - ug(c) * vg(p)) }
    val top = vg.toSeq.map { case (p, v) => (-v, p) }.min
    val expected = Map(
      "n_ratings" -> ratings.size.toLong,
      "n_users" -> ug.size.toLong,
      "n_items" -> vg.size.toLong,
      "sum_abs_err_micro" -> aes.sum,
      "mae_micro" -> aes.sum / ratings.size,
      "top_item_id" -> top._2,
      "top_item_vg" -> -top._1)
    val got = graft.operators.Relational.q226AlsStep(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected, s"got: $got")
    // WIDE-ARM replay (round-14 adaptive argmax width): the same
    // ratings with every part id offset past the 32-bit narrow-pack
    // ceiling must run through the DECIMAL(38,0) pick key and produce
    // the IDENTICAL census with only top_item_id offset (factors and
    // fit are id-invariant, and the id offset is order-preserving so
    // the tie-break picks the same item)
    val off = (1L << 33) + 7L
    val wide = spark.createDataFrame(ratings.map {
      case (c, p, r) => (c, p + off, r) }).toDF("c", "p", "r")
    val gotWide = graft.operators.Relational.alsStep(wide)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectedWide = expected.map {
      case ("top_item_id", v) => "top_item_id" -> (v + off)
      case kv => kv
    }
    assert(gotWide === expectedWide, s"wide-arm got: $gotWide")
  }

  test("q227 vocab growth: brute-force nested-sample replay") {
    val dir = "/root/testdata/sf0.001"
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", $"text").collect()
      .filter(!_.isNullAt(1))
      .map { r =>
        val h = md5hex(r.getLong(0).toString)
        val tier = if (h < "1a") 1 else if (h < "40") 2
          else if (h < "80") 3 else 4
        (tier, r.getString(1))
      }
    val rows = graft.operators.TextOps.q227VocabGrowth(spark, dir)
      .collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet === Set(1, 2, 3, 4))
    // vocab/hapax strictly from the cumulative term multiset; docs and
    // token mass from the doc grain (tokenCount semantics: 0 for "")
    for (t <- 1 to 4) {
      val sub = docs.filter(_._1 <= t)
      val nDocs = sub.length.toLong
      val nTokens = sub.map { case (_, txt) =>
        if (txt.isEmpty) 0L else (txt.count(_ == ' ') + 1).toLong }.sum
      val terms = sub.flatMap(_._2.split(" ", -1))
      val freq = terms.groupBy(identity).map { case (k, v) => k -> v.length }
      val (gd, gt, gv, gh) = rows(t)
      assert(gd === nDocs, s"tier $t n_docs")
      assert(gt === nTokens, s"tier $t n_tokens")
      assert(gv === freq.size.toLong, s"tier $t vocab")
      assert(gh === freq.count(_._2 == 1).toLong, s"tier $t hapax")
    }
    // nesting: monotone non-decreasing along the tier axis
    for (t <- 2 to 4) assert(rows(t)._3 >= rows(t - 1)._3)
  }

  test("q229 chunk census: crafted boundary crossings incl. empty docs") {
    def txt(n: Int): String = Seq.fill(n)("w").mkString(" ")
    // budget 10, one shard: en starts 0,4,12,22,25 — docs 2 and 3 cross
    // a boundary, the empty doc occupies no span; fr is all-empty
    val docs = Seq(
      (1L, "en", txt(4)), (2L, "en", txt(8)), (3L, "en", txt(10)),
      (4L, "en", txt(3)), (5L, "en", ""),
      (6L, "fr", "")
    ).toDF("doc_id", "lang", "text")
    val got = graft.operators.TextOps.chunkCensus(docs, budget = 10L,
      nShards = 1).collect()
      .map(r => (r.getString(0), (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
    assert(got("en") === ((5L, 25L, 3L, 2L, 2L, 600000L, 500000L)))
    // all-empty group: zero chunks, zero fill, fully intact (the
    // negative-dividend guards on BOTH rule-13 sites)
    assert(got("fr") === ((1L, 0L, 0L, 0L, 0L, 1000000L, 0L)))
  }

  test("q230 quantile align: brute-force replay incl. the ni=1 branch") {
    val docs = Seq(
      (1L, "A", 10L), (2L, "A", 20L), (3L, "A", 20L), (4L, "A", 30L),
      (5L, "A", 40L),
      (6L, "B", 15L), (7L, "B", 35L),
      (8L, "C", 25L)
    ).toDF("doc_id", "source", "n_chars")
    val got = graft.operators.TextOps.quantileAlign(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // JVM replay: pooled total order by (len, doc_id); per-source ranks;
    // exact decomposed target index
    val rows = Seq((1L, "A", 10L), (2L, "A", 20L), (3L, "A", 20L),
      (4L, "A", 30L), (5L, "A", 40L), (6L, "B", 15L), (7L, "B", 35L),
      (8L, "C", 25L))
    val pooled = rows.sortBy(r => (r._3, r._1)).map(_._3)
    val n = pooled.length.toLong
    for ((src, grp) <- rows.groupBy(_._2)) {
      val ni = grp.length.toLong
      val sorted = grp.sortBy(r => (r._3, r._1))
      for ((r, i) <- sorted.zipWithIndex) {
        val rank = i + 1L
        val tgt =
          if (ni == 1L) (n + 1L) / 2L
          else 1L + (rank - 1L) * ((n - 1L) / (ni - 1L)) +
            (rank - 1L) * ((n - 1L) % (ni - 1L)) / (ni - 1L)
        assert(got(r._1) === ((rank, tgt, pooled((tgt - 1L).toInt))),
          s"doc ${r._1} (source $src)")
      }
    }
    // endpoints map to endpoints: every source's min/max land on the
    // pooled min/max when ni > 1
    assert(got(6L)._3 === 10L && got(7L)._3 === 40L)
    // the single-doc source lands on the pooled lower median
    assert(got(8L)._3 === 20L)
  }

  test("q231 sorted neighborhood: independent JVM replay of both passes") {
    val dir = "/root/testdata/sf0.001"
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h(salt: String, k: Long): Long =
      java.lang.Long.parseLong(md5hex(salt + k).take(8), 16)
    def lev1(a: String, b: String): Boolean = {
      // levenshtein ≤ 1 for equal-length strings = ≤ 1 substitution
      if (a.length == b.length) a.zip(b).count(t => t._1 != t._2) <= 1
      else math.abs(a.length - b.length) == 1 && {
        val (s, l) = if (a.length < b.length) (a, b) else (b, a)
        (0 to s.length).exists(i => l.substring(0, i) == s.substring(0, i) &&
          l.substring(i + 1) == s.substring(i))
      }
    }
    val clean = graft.sources.Tables.customer(spark, dir)
      .select($"c_custkey", $"c_name").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val messy = clean.map { case (k, name) =>
      val pos = (h("ep", k) % 9 + 10).toInt
      val nd = ((name.charAt(pos - 1) - '0' + h("ec", k) % 9 + 1) % 10)
      val typo = h("er", k) % 10 < 3
      val m = if (typo)
        name.substring(0, pos - 1) + ('0' + nd).toChar + name.substring(pos)
      else name
      (k, typo, m)
    }
    // merged stream, two blocked passes, w=4 window pairs
    case class R(side: Int, rid: Long, name: String)
    val merged = clean.map { case (k, n) => R(0, k, n) } ++
      messy.map { case (k, _, m) => R(1, k, m) }
    def passPairs(blockOf: String => String, keyOf: String => String)
        : (Long, Set[(Long, Long)]) = {
      var vol = 0L
      val hits = scala.collection.mutable.Set.empty[(Long, Long)]
      for ((_, grp) <- merged.groupBy(r => blockOf(r.name.substring(9, 18)))) {
        val sorted = grp.sortBy(r =>
          (keyOf(r.name.substring(9, 18)), r.side, r.rid))
        for (i <- sorted.indices; j <- i + 1 to math.min(i + 4, sorted.length - 1)) {
          vol += 1
          val (a, b) = (sorted(i), sorted(j))
          if (a.side != b.side && lev1(a.name, b.name)) {
            val (m, c) = if (a.side == 1) (a, b) else (b, a)
            if (m.rid == c.rid) hits += ((m.rid, c.rid))
          }
        }
      }
      (vol, hits.toSet)
    }
    val (v1, hit1) = passPairs(_.take(6), identity)
    val (v2, hit2) = passPairs(_.reverse.take(2), _.reverse)
    val expect = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for ((k, typo, _) <- messy) {
      val (p1, p2) = (hit1.contains((k, k)), hit2.contains((k, k)))
      val cls =
        if (!typo) if (p1 || p2) "exact_caught" else "exact_missed"
        else if (p1 && p2) "typo_caught_both"
        else if (p1) "typo_caught_pass1_only"
        else if (p2) "typo_caught_pass2_only"
        else "typo_missed"
      expect(cls) += 1L
    }
    expect("candidates_pass1") = v1
    expect("candidates_pass2") = v2
    val got = graft.operators.Relational
      .q231SortedNeighborhood(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, v) <- expect) assert(got(k) === v, s"class $k")
    // verified_pairs exists and bounds the true catches
    assert(got("verified_pairs") >= hit1.size.toLong)
    // the pass-1-only class the window size was calibrated for is live
    assert(got("typo_caught_pass1_only") >= 1L)
  }

  test("q232 assoc rules: crafted-basket replay incl. minsup drop") {
    // 100 orders: (A,B) co-occur in 10, (A,C) in exactly 1 — the (A,C)
    // pair sits below the 2% minsup and must be pruned entirely
    val rows =
      (1 to 10).flatMap(o => Seq((o.toLong, "A"), (o.toLong, "B"))) ++
      (11 to 40).map(o => (o.toLong, "A")) ++
      (41 to 99).map(o => (o.toLong, "B")) ++
      Seq((100L, "A"), (100L, "C"))
    val basket = rows.toDF("o", "br")
    val got = graft.operators.Relational.assocRules(basket).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6))).toMap
    assert(got.keySet === Set(("A", "B"), ("B", "A")))
    val (no, sa, sb, sup) = (100L, 41L, 69L, 10L)
    def lift = math.floor(1000000.0 * (sup.toDouble * no) /
      (sa.toDouble * sb) + 0.5).toLong
    assert(got(("A", "B")) ===
      ((sup, sup * 1000000L / no, sup * 1000000L / sa, lift,
        sup * 1000000L / sa >= 150000L)))
    assert(got(("B", "A")) ===
      ((sup, sup * 1000000L / no, sup * 1000000L / sb, lift,
        sup * 1000000L / sb >= 150000L)))
    // both decision branches exercised: A→B is strong, B→A is not
    assert(got(("A", "B"))._5 && !got(("B", "A"))._5)
  }

  test("q233 bootstrap CI: independent JVM replay of weights, means, CI ranks") {
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val thresh = graft.operators.StatsOps.PoisThresh
    def weight(b: Int, docId: Long): Long = {
      val u = java.lang.Long.parseLong(
        md5hex(s"boot:$b:$docId").substring(0, 6), 16)
      val k = thresh.indexWhere(u < _)
      if (k < 0) thresh.size.toLong else k.toLong
    }
    // two sources, enough docs that every replicate has mass
    val docs = (1L to 40L).map(i =>
      (i, if (i <= 25) "sa" else "sb", 100L + 7L * i))
    val df = docs.toDF("doc_id", "source", "n_chars")
    val got = graft.operators.StatsOps.bootstrapCi(df).collect()
      .map(r => r.getString(0) -> r).toMap
    for (src <- Seq("sa", "sb")) {
      val mine = docs.filter(_._2 == src)
      val means = (0 until 100).flatMap { b =>
        val ws = mine.map { case (id, _, x) => (weight(b, id), x) }
        val sw = ws.map(_._1).sum
        if (sw == 0) None
        else Some((b, ws.map { case (w, x) => w * x }.sum * 1000L / sw))
      }
      val sorted = means.sortBy { case (b, m) => (m, b) }.map(_._2)
      val neff = sorted.size
      val rlo = neff * 25 / 1000 + 1
      val rhi = neff - neff * 25 / 1000
      val r = got(src)
      assert(r.getLong(1) === mine.size.toLong, s"$src n_docs")
      assert(r.getLong(2) === mine.map(_._3).sum * 1000L / mine.size,
        s"$src mean")
      assert(r.getLong(3) === neff.toLong, s"$src n_reps")
      assert(r.getLong(4) === sorted(rlo - 1), s"$src lo")
      assert(r.getLong(5) === sorted(rhi - 1), s"$src hi")
      val sm = sorted.sum
      val smm = sorted.map(m => m * m).sum
      val variance = math.max((neff.toDouble * smm - sm.toDouble * sm) /
        (neff.toDouble * (neff - 1L)), 0.0)
      assert(r.getLong(6) ===
        math.floor(math.sqrt(variance) * 1000.0 + 0.5).toLong, s"$src se")
      // a Poisson(1) resample keeps roughly the sample mass: the CI
      // must bracket the point estimate on this smooth series
      assert(r.getLong(4) <= r.getLong(2) && r.getLong(2) <= r.getLong(5))
    }
  }

  test("q234 rank drift: histogram U equals brute-force pairwise U, flags fire") {
    // source A sits strictly above B/C except one crafted tie pair;
    // values repeat so midranks and the tie correction are exercised
    val vals = Seq.tabulate(30)(i => ("A", 200L + (i % 5) * 10L)) ++
      Seq.tabulate(30)(i => ("B", 100L + (i % 7) * 3L)) ++
      Seq.tabulate(30)(i => ("C", (i % 4) * 25L + 50L)) ++
      Seq(("B", 200L)) // the cross-source tie
    val df = vals.toDF("source", "len")
    val got = graft.operators.StatsOps.rankDrift(df).collect()
      .map(r => r.getString(0) -> r).toMap
    for (src <- Seq("A", "B", "C")) {
      val mine = vals.filter(_._1 == src).map(_._2)
      val rest = vals.filter(_._1 != src).map(_._2)
      // doubled brute-force U: 2*wins + ties, over all n1*n2 pairs
      val u2 = mine.map(x =>
        2L * rest.count(x > _) + rest.count(x == _)).sum
      val r = got(src)
      assert(r.getLong(1) === mine.size.toLong, s"$src n1")
      assert(r.getLong(2) === rest.size.toLong, s"$src n2")
      assert(r.getLong(3) === u2, s"$src u2")
    }
    // A dominates -> large positive z, drifted; C sits low -> negative
    assert(got("A").getLong(4) > 0L && got("A").getBoolean(5))
    assert(got("C").getLong(4) < 0L)
    // a single-valued rest comparison cannot be drifted on this layout
    val gotNull = graft.operators.StatsOps
      .rankDrift(Seq(("X", 5L), ("Y", 5L)).toDF("source", "len"))
      .collect().map(r => r.getString(0) -> r).toMap
    // all values tie -> zero variance -> z undefined, flag false
    assert(gotNull("X").isNullAt(4) && !gotNull("X").getBoolean(5))
  }

  test("q235 chi-square: zero cell enters via the marginal axis; independence -> 0") {
    // y-t is never observed: the full-axis path must still charge its
    // expected mass (O=0, E=30*20/50=12)
    val obs = Seq.fill(10)(("x", "s")) ++ Seq.fill(10)(("x", "t")) ++
      Seq.fill(30)(("y", "s"))
    val got = graft.operators.StatsOps.chiSquare(obs.toDF("lang", "source"))
      .collect()(0)
    val cells = Seq(("x", "s", 10L, 20L, 40L), ("x", "t", 10L, 20L, 10L),
      ("y", "s", 30L, 30L, 40L), ("y", "t", 0L, 30L, 10L))
    val contribs = cells.map { case (_, _, o, rt, ct) =>
      val e = rt.toDouble * ct / 50L
      val dv = o.toDouble - e
      math.floor(dv * dv / e * 1000000.0 + 0.5).toLong
    }
    assert(got.getLong(0) === 50L)
    assert(got.getLong(3) === 1L) // df = (2-1)*(2-1)
    assert(got.getLong(4) === contribs.sum, "chi2 from hand-replayed cells")
    val v = math.sqrt(contribs.sum / 1000000.0 / (50.0 * 1L))
    assert(got.getLong(5) === math.floor(v * 1000000.0 + 0.5).toLong)
    // largest contributor on this layout is the inflated (x, t) cell
    // ((10-4)^2/4 = 9.0 beats the zero cell's (0-6)^2/6 = 6.0)
    assert((got.getString(6), got.getString(7)) === (("x", "t")))
    assert(got.getLong(8) === 9000000L)
    // exact independence: both sources draw langs in identical ratio
    val indep = Seq.fill(8)(("x", "s")) ++ Seq.fill(4)(("y", "s")) ++
      Seq.fill(2)(("x", "t")) ++ Seq.fill(1)(("y", "t"))
    val g2 = graft.operators.StatsOps.chiSquare(indep.toDF("lang", "source"))
      .collect()(0)
    assert(g2.getLong(4) === 0L, "independent table must score exactly 0")
  }

  test("q236 ROC-AUC: brute-force pairwise U on bucketed scores, sweep counts") {
    // scores straddle negative buckets (floor on negatives), share a
    // cross-class bucket (half-credit ties), and include one extreme
    // outlier that must CLAMP into bucket 200 instead of widening the
    // axis
    val rows: Seq[(Long, Boolean)] = Seq(
      (-130000L, false), (-95000L, false), (-41000L, false),
      (-39999L, false), (5000L, false), (25000L, false),
      (5000L, true), (45000L, true), (85000L, true), (125000L, true),
      (165000L, true), (1000000000L, true))
    val df = rows.toDF("logit_micro", "pos")
    val got = graft.operators.TextOps.rocAuc(df).collect()
    def bucket(x: Long): Long =
      math.min(math.max(math.floor(x / 20000.0).toLong, -100L), 200L)
    val posB = rows.filter(_._2).map(r => bucket(r._1))
    val negB = rows.filterNot(_._2).map(r => bucket(r._1))
    assert(posB.contains(200L), "outlier must clamp into the end bucket")
    val u2 = posB.map(p =>
      2L * negB.count(p > _) + negB.count(p == _)).sum
    val aucPpm = math.floor(u2.toDouble * 1000000.0 /
      (2.0 * posB.size * negB.size) + 0.5).toLong
    assert(got.length === 19, "one row per threshold k in -6..12")
    for (r <- got) {
      val k = r.getLong(0) / 20000L
      val tp = posB.count(_ >= k).toLong
      val fp = negB.count(_ >= k).toLong
      assert(r.getLong(1) === tp, s"k=$k tp")
      assert(r.getLong(2) === fp, s"k=$k fp")
      assert(r.getLong(3) === posB.size - tp, s"k=$k fn")
      assert(r.getLong(4) === negB.size - fp, s"k=$k tn")
      if (tp + fp > 0)
        assert(r.getLong(5) === tp * 1000000L / (tp + fp), s"k=$k prec")
      else assert(r.isNullAt(5), s"k=$k prec null")
      assert(r.getLong(6) === tp * 1000000L / posB.size, s"k=$k rec")
      assert(r.getLong(7) ===
        2L * tp * 1000000L / (tp + fp + posB.size), s"k=$k f1")
      assert(r.getLong(8) === aucPpm, s"k=$k auc")
    }
    // this layout separates well but not perfectly (one tied bucket):
    // AUC strictly between the coin-flip and the perfect ranker
    assert(aucPpm > 500000L && aucPpm < 1000000L)
    // a perfectly-ranked layout scores exactly 1e6
    val perfect = (Seq.tabulate(5)(i => (100000L + 20000L * i, true)) ++
      Seq.tabulate(5)(i => (-100000L - 20000L * i, false)))
      .toDF("logit_micro", "pos")
    val g2 = graft.operators.TextOps.rocAuc(perfect).collect()
    assert(g2.head.getLong(8) === 1000000L)
  }

  test("q237 HITS: hand-replayed alternating half-steps on a nested bipartite graph") {
    // c1 buys everything, c3 only the bestseller: authority order must
    // be p1 > p2 > p3 and hub order c1 > c2 > c3, with every ppb value
    // reproduced by the identical floor(double) arithmetic
    val edges = Seq((1L, 101L), (1L, 102L), (1L, 103L),
      (2L, 101L), (2L, 102L), (3L, 101L))
    val got = graft.operators.Relational
      .hits(edges.toDF("c", "p")).collect()
    def norm(raw: Map[Long, Long]): Map[Long, Long] = {
      val tot = raw.values.sum
      raw.view.mapValues(v =>
        math.floor(v.toDouble * 1000000000.0 / tot).toLong).toMap
    }
    val a1 = norm(edges.groupBy(_._2).map { case (p, es) =>
      p -> es.size.toLong })
    val h1 = norm(edges.groupBy(_._1).map { case (c, es) =>
      c -> es.map(e => a1(e._2)).sum })
    val a2 = norm(edges.groupBy(_._2).map { case (p, es) =>
      p -> es.map(e => h1(e._1)).sum })
    val gotAuth = got.filter(_.getString(0) == "authority")
      .map(r => r.getLong(1) -> r.getLong(2))
    val gotHubs = got.filter(_.getString(0) == "hub")
      .map(r => r.getLong(1) -> r.getLong(2))
    assert(gotAuth.toSeq === Seq(101L, 102L, 103L).map(p => p -> a2(p)),
      "authority scores/order")
    assert(gotHubs.toSeq === Seq(1L, 2L, 3L).map(c => c -> h1(c)),
      "hub scores/order")
    // mutual reinforcement, not just degree: c2 and c3 differ in hub
    // score by MORE than the one-part raw-degree gap alone (c2's parts
    // are the two strongest authorities)
    assert(h1(2L) > h1(3L))
  }

  test("q238 clustering coefficient: brute-force per-node replay, K4 + pendant") {
    // K4 on 1-4 (every coeff exactly 1e6 -> band 10), node 5 pendant
    // off 4 (deg 1, excluded), node 6 bridging 1-2's edge via a path
    // 1-6, 6-2 (coeff 1e6 since 1-2 is an edge), node 7 wedge-only
    // center 3-7, 7-5x no... 7 connects 3 and 5: 3-5 not an edge ->
    // coeff 0
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (1L, 6L), (2L, 6L), (3L, 7L), (5L, 7L))
    val got = graft.operators.Relational
      .clusteringCoeffBands(edges.toDF("pa", "pb")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // independent brute force
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val eset = edges.toSet
    def adj(n: Long) = nodes.filter(m =>
      eset.contains((n, m).swap) || eset.contains((n, m))
        || eset.contains((m, n))).filter(_ != n)
    val per = nodes.map { n =>
      val a = adj(n).distinct
      val t = a.combinations(2).count { case Seq(x, y) =>
        eset.contains(if (x < y) (x, y) else (y, x)) }
      (n, a.size.toLong, t.toLong)
    }.filter(_._2 >= 2)
    val bands = per.map { case (_, dg, t) =>
      2L * t * 1000000L / (dg * (dg - 1)) }
      .groupBy(_ / 100000L)
    for ((b, cs) <- bands) {
      val exp = per.filter { case (_, dg, t) =>
        2L * t * 1000000L / (dg * (dg - 1)) / 100000L == b }
      assert(got(b)._1 === cs.size.toLong, s"band $b n_nodes")
      assert(got(b)._2 === exp.map(_._3).sum, s"band $b sum_tri")
      assert(got(b)._3 === cs.sum / cs.size, s"band $b mean")
    }
    assert(got.keySet === bands.keySet)
    // hand-derived anchors: node 6 closes 1-2 exactly (coeff 1e6,
    // band 10); nodes 5 and 7 center open wedges (band 0); the K4
    // corners 1/2 carry the extra closed neighbor 6 (t=4, deg 4 ->
    // 666666, band 6) while 3/4 carry an open extra neighbor (t=3,
    // deg 4 -> 500000, band 5)
    assert(got(10L) === ((1L, 1L, 1000000L)))
    assert(got(0L)._1 === 2L)
    assert(got(6L)._1 === 2L && got(5L)._1 === 2L)
  }

  test("q239 link prediction: RA scores replayed, hub cap and edge exclusion") {
    // star hub 100 connects 1..60 (deg 60 > cap 50? cap is 256 - use
    // many spokes? keep cap semantics via a crafted >256-degree hub)
    val hubSpokes = (1L to 300L).map(i => (100000L, 100000L + i))
    // center 10 joins 1 and 2 (deg 2); center 11 joins 1, 2 and 3
    // (deg 3); edge 1-2 exists -> excluded from candidates
    val core = Seq((1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L),
      (3L, 11L), (1L, 2L))
    val edges = (core ++ hubSpokes).map { case (a, b) =>
      if (a < b) (a, b) else (b, a) }
    val got = graft.operators.Relational
      .linkPredict(edges.toDF("pa", "pb")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // (1,2) is an existing edge: must NOT appear even though both
    // centers 10 and 11 connect it
    assert(!got.contains((1L, 2L)), "existing edge excluded")
    // (1,3) and (2,3) share only center 11 (deg 3): RA = 1e6 div 3
    assert(got((1L, 3L)) === ((1L, 333333L)))
    assert(got((2L, 3L)) === ((1L, 333333L)))
    // hub spokes pair only through the 300-degree hub, which the cap
    // excludes: no spoke pair may appear
    assert(!got.keys.exists { case (a, b) =>
      a > 100000L && b > 100000L }, "capped hub generated candidates")
    // every other center-generated pair ((1,10), (2,11), ...) is an
    // existing edge and must be anti-joined away; the lone survivor
    // is (10,11), reached through BOTH centers 1 and 2 (deg 3 each):
    // cn = 2, RA = 2 * (1e6 div 3)
    assert(got.keySet === Set((10L, 11L), (1L, 3L), (2L, 3L)))
    assert(got((10L, 11L)) === ((2L, 666666L)))
  }

  test("q240 decision stump: brute-force split search replay, clean split wins") {
    // nt separates perfectly at 40 (bin boundary 40 = (9+1)*4);
    // the other features carry anti-correlated noise so the search
    // must actually compare Gini across features, not pick fid 0 by
    // default
    val rows = (0 until 40).map { i =>
      val pos = i < 20
      (pos,
        if (pos) 20L + (i % 5) else 44L + (i % 7) * 4L, // nt
        44000L + (i % 11) * 600L,                       // atl_g
        (if (pos) 300L else 250L) + (i % 3) * 40L,      // pr_g
        (if (pos) 1000L else 1400L) + (i % 4) * 200L)   // swr_g
    }
    val df = rows.toDF("pos", "nt", "atl_g", "pr_g", "swr_g")
    val got = graft.operators.TextOps.decisionStump(df).collect()
    assert(got.length === 1)
    val r = got.head
    // independent JVM split search over the same binning
    val feats = Seq(("nt", 0L, 4L), ("atl_g", 30000L, 500L),
      ("pr_g", 0L, 20L), ("swr_g", 0L, 100L))
    def bin(v: Long, off: Long, step: Long): Long =
      math.min(math.max(v - off, 0L) / step, 63L)
    val cands = feats.zipWithIndex.flatMap { case ((c, off, step), fi) =>
      val vals = rows.map(t => (t._1, c match {
        case "nt" => t._2; case "atl_g" => t._3
        case "pr_g" => t._4; case _ => t._5 }))
      val bs = vals.map { case (p, v) => (p, bin(v, off, step)) }
      (0L to 63L).flatMap { b =>
        val (l, rr) = bs.partition(_._2 <= b)
        if (l.isEmpty || rr.isEmpty) None
        else {
          val (lp, ln) = (l.count(_._1).toLong, l.count(!_._1).toLong)
          val (rp, rn) = (rr.count(_._1).toLong, rr.count(!_._1).toLong)
          val g = (2.0 * lp * ln / (lp + ln) + 2.0 * rp * rn / (rp + rn)) /
            bs.size * 1000000.0
          Some((math.floor(g + 0.5).toLong, fi.toLong, b, lp, ln, rp, rn))
        }
      }
    }
    val best = cands.minBy { case (g, fi, b, _, _, _, _) =>
      g * 256L + fi * 64L + b }
    val (bg, bfi, bb, lp, ln, rp, rn) = best
    assert(r.getString(0) === feats(bfi.toInt)._1, "winning feature")
    assert(r.getLong(1) ===
      feats(bfi.toInt)._2 + (bb + 1) * feats(bfi.toInt)._3, "threshold")
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ===
      ((lp, ln, rp, rn)), "split counts")
    assert(r.getLong(6) === bg, "gini")
    // the crafted layout's clean split: pos nt tops out at bin 6
    // (nt 24), neg starts at bin 11 (nt 44) — every boundary between
    // is pure and the packed argmin picks the EARLIEST (bin 6,
    // threshold 28), zero impurity
    assert(r.getString(0) === "nt" && r.getLong(1) === 28L)
    assert(r.getLong(6) === 0L && r.getLong(8) === r.getLong(7), "pure split")
  }

  test("q241 cluster purity: packed majority with count-desc label-asc tie-break") {
    val assigned = Seq(
      // cell 1: labels 3x2, 5x2 -> tie broken to the SMALLER label
      (1L, 3L), (1L, 3L), (1L, 5L), (1L, 5L),
      // cell 2: pure
      (2L, 7L), (2L, 7L), (2L, 7L),
      // cell 3: majority 0 over 9
      (3L, 0L), (3L, 0L), (3L, 9L))
    val got = graft.operators.VectorOps
      .clusterPurity(assigned.toDF("cell_id", "label")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) === ((4L, 3L, 2L, 500000L)), "tie -> smaller label")
    assert(got(2L) === ((3L, 7L, 3L, 1000000L)), "pure cell")
    assert(got(3L) === ((3L, 0L, 2L, 666666L)))
    // out-of-range label fails loudly instead of aliasing the pack
    val bad = intercept[Exception] {
      graft.operators.VectorOps
        .clusterPurity(Seq((1L, 1024L)).toDF("cell_id", "label")).collect()
    }
    assert(bad.getMessage != null)
  }

  test("q242 DP release: exact dyadic CDF table, md5 noise replay at sf0.001") {
    val t = graft.operators.TextOps.DpThresh
    // independent closed-form CDF of the two-sided geometric with
    // alpha = 1/2: F(z) = 2^(1-|z|)/3 (z<0), 1 - 2^(-z)/3 (z>=0)
    def cdf(z: Int): BigInt =
      if (z < 0) (BigInt(1) << (24 + 1 + z)) / 3
      else ((BigInt(3) << 24) - (BigInt(1) << (24 - z))) / 3
    assert(t === (-8 to 7).map(z => cdf(z).toLong))
    assert(t === t.sorted && t.distinct === t, "strictly increasing")
    // F(-1) ~ 1/3 and F(0) ~ 2/3 of the 2^24 grid (median noise 0)
    assert(math.abs(t(7) - (1 << 24) / 3) <= 1)
    assert(math.abs(t(8) - (2 << 24) / 3) <= 1)
    // full replay on the real corpus slice
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val got = graft.operators.TextOps
      .q242DpRelease(spark, "/root/testdata/sf0.001").collect()
    assert(got.nonEmpty)
    var sawNonZero = false
    for (r <- got) {
      val (lang, src, n, noise, rel) = (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      val u = java.lang.Long.parseLong(
        md5hex(s"dp:$lang:$src").substring(0, 6), 16)
      val k = t.indexWhere(u < _)
      val expNoise = if (k < 0) 8L else (k - 8).toLong
      assert(noise === expNoise, s"$lang/$src noise")
      assert(rel === math.max(n + noise, 0L), s"$lang/$src clamp")
      if (noise != 0L) sawNonZero = true
    }
    // the mechanism must actually perturb something on this slice
    assert(sawNonZero, "all draws landed on zero noise - table suspect")
  }

  test("q243 label propagation: hand-traced rounds, clamped seeds, tie to smaller label") {
    // chain 1-2-3 spreads label 0 over two rounds; 4-5 spreads 1 in
    // one; node 6 hears a 0/1 tie in round 2 (adopts 0, which is
    // WRONG vs its truth 7 -> r2_correct counts only node 3)
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (2L, 6L), (5L, 6L))
    val adj = (pairs ++ pairs.map(_.swap)).toDF("v", "n")
    val truth = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L),
      (6L, 7L)).toDF("vec_id", "tl")
    val l0 = Seq((1L, 0L), (4L, 1L)).toDF("vec_id", "lab")
    val got = graft.operators.VectorOps.labelPropRounds(adj, truth, l0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map(
      "r0_labeled" -> 2L,
      "r1_adopted" -> 2L, "r1_correct" -> 2L, "r1_labeled" -> 4L,
      "r2_adopted" -> 2L, "r2_correct" -> 1L, "r2_labeled" -> 6L))
  }

  test("q244 power iteration: exact JVM replay, dominant direction found") {
    // block matrix: coupled dims 0/1 dominate, dim 2 decoupled and
    // weaker -> the iterate must concentrate on dims 0/1 with dim 0
    // the max component
    val gram = Seq((0, 0, 4000000L), (0, 1, 1000000L), (0, 2, 0L),
      (1, 1, 3000000L), (1, 2, 0L), (2, 2, 1000000L))
    val got = graft.operators.VectorOps
      .powerIteration(gram.toDF("i", "j", "gram_micro")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical-arithmetic replay
    val g = Array.ofDim[Long](3, 3)
    for ((i, j, x) <- gram) { g(i)(j) = x; g(j)(i) = x }
    var v = Array.fill(3)(1000000L)
    var m = 0L
    for (_ <- 1 to 3) {
      val raw = (0 until 3).map(i => (0 until 3).map(j =>
        math.floor(g(i)(j).toDouble * v(j) / 1000000.0).toLong).sum)
      m = raw.map(math.abs).max
      v = raw.map(r =>
        math.floor(r.toDouble * 1000000.0 / math.max(m, 1L)).toLong).toArray
    }
    assert(got === (0 until 3).map(i => i.toLong -> v(i)).toMap
      + (-1L -> m))
    // qualitative: dim 0 is the max component (normalized to 1e6),
    // dim 2 decayed well below the coupled block
    assert(got(0L) === 1000000L)
    assert(got(2L) < got(1L) && got(1L) < got(0L))
    // eigenvalue estimate approaches the true dominant eigenvalue
    // (3.5 + sqrt(1.25) ~ 4.618 in micro units); the L∞ quotient
    // overshoots while the iterate still mixes the second mode
    // (replayed value after 3 rounds: 4.708e6)
    assert(m > 4500000L && m < 4800000L)
  }

  test("q245 dedup eval: identical pairs guaranteed caught, seed truth brute-forced") {
    // docs 1/2 identical (true dup, inside the 512-id seed range);
    // 600/601 identical (candidate dup OUTSIDE the seed range — feeds
    // precision only); 4 shares one shingle with 1/2 (J = 1/11, not a
    // dup); 3 unrelated
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "z y x w v u t s"), (4L, "a b c q r s t u"),
      (600L, "m n o p q r s t"), (601L, "m n o p q r s t"))
    val r = graft.operators.TextOps
      .dedupEval(docs.toDF("doc_id", "text")).collect().head
    val (nc, nd, prec, nt, ncau, rec) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    // JVM brute-force seed truth over doc ids < 512
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val seeds = docs.filter(_._1 < 512L)
    val truth = for {
      (a, ta) <- seeds; (b, tb) <- seeds if a < b
      sa = shingles(ta); sb = shingles(tb)
      common = (sa & sb).size
      if common * 10 >= (sa.size + sb.size - common) * 8
    } yield (a, b)
    assert(nt === truth.size.toLong && truth === Seq((1L, 2L)))
    // identical docs have identical signatures -> guaranteed caught
    assert(ncau === 1L && rec === 1000000L)
    // both identical pairs must be candidates AND verified dups
    assert(nd >= 2L && nc >= nd)
    assert(prec === nd * 1000000L / nc, "precision consistency")
  }

  test("q246 permutation importance: full JVM replay of the bucketed derangement") {
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // grids straddling the keep/drop boundary so swaps genuinely
    // flip; 600 docs over 256 md5 buckets so most buckets host real
    // (non-self) swap partners
    val rows = (1L to 600L).map { i =>
      (i, 40L + (i % 13) * 3L, 43000L + (i % 9) * 700L,
        (i % 7) * 90L, 100L + (i % 11) * 60L)
    }
    val got = graft.operators.TextOps
      .permImportance(rows.toDF("doc_id", "nt", "atl_g", "pr_g", "swr_g"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // independent replay with the q178 model constants
    def contribs(t: (Long, Long, Long, Long, Long)): Map[String, Long] =
      Map("nt" -> 600L * t._2, "atl_g" -> -2L * math.abs(t._3 - 45000L),
        "pr_g" -> -60L * t._4, "swr_g" -> 40L * t._5)
    val byBkt = rows.groupBy(r => md5hex(s"pi:${r._1}").substring(0, 2))
    var flips = Map.empty[String, Long].withDefaultValue(0L)
    var sad = Map.empty[String, Long].withDefaultValue(0L)
    for ((_, ds) <- byBkt) {
      val ord = ds.sortBy(_._1)
      for ((doc, idx) <- ord.zipWithIndex) {
        val partner = ord((idx + 1) % ord.size)
        val co = contribs(doc); val cp = contribs(partner)
        val base = -30000L + co.values.sum
        for (f <- co.keys) {
          val delta = cp(f) - co(f)
          if ((base >= 0L) != (base + delta >= 0L))
            flips += f -> (flips(f) + 1L)
          sad += f -> (sad(f) + math.abs(delta))
        }
      }
    }
    for (f <- Seq("nt", "atl_g", "pr_g", "swr_g")) {
      val (n, nf, fppm, mad) = got(f)
      assert(n === 600L, s"$f n_docs")
      assert(nf === flips(f), s"$f flips")
      assert(fppm === flips(f) * 1000000L / 600L, s"$f ppm")
      assert(mad === sad(f) / 600L, s"$f mean delta")
    }
    // nt dominates this model (600 micro per token): it must flip at
    // least as often as the weakest feature and shift the most mass
    assert(got("nt")._4 >= got.values.map(_._4).min)
    assert(flips.values.sum > 0L, "crafted grid produced no flips")
  }

  test("q247 CV stump: separable data -> pure split and perfect held-out accuracy") {
    // label perfectly determined by nt (pos iff nt <= 24): every
    // fold's complement still separates, so each winner must be an nt
    // split with train gini 0 and held-out accuracy exactly 1e6 —
    // this exercises the histogram-subtraction algebra end to end
    // (a subtraction bug would corrupt some fold's split or leaf)
    val rows = (0 until 160).map { i =>
      val pos = i % 2 == 0
      (i.toLong, pos, if (pos) 20L + (i % 3) else 44L + (i % 5) * 4L,
        45000L, 0L, 1000L)
    }
    val df = rows.toDF("doc_id", "pos", "nt", "atl_g", "pr_g", "swr_g")
    val got = graft.operators.TextOps.cvStump(df).collect()
    assert(got.length === 4, "one row per fold")
    assert(got.map(_.getLong(0)).toSet === Set(0L, 1L, 2L, 3L))
    var totalTest = 0L
    for (r <- got) {
      assert(r.getString(1) === "nt", s"fold ${r.getLong(0)} feature")
      assert(r.getLong(3) === 0L, s"fold ${r.getLong(0)} train gini")
      assert(r.getLong(5) === r.getLong(4), s"fold ${r.getLong(0)} correct")
      assert(r.getLong(6) === 1000000L, s"fold ${r.getLong(0)} acc")
      totalTest += r.getLong(4)
    }
    // held-out folds partition the corpus exactly once
    assert(totalTest === 160L)
    // flip the signal onto swr_g: winners must follow the feature
    val rows2 = (0 until 160).map { i =>
      val pos = i % 2 == 0
      (i.toLong, pos, 50L, 45000L, 0L,
        if (pos) 2000L + (i % 4) * 100L else 200L + (i % 4) * 50L)
    }
    val got2 = graft.operators.TextOps
      .cvStump(rows2.toDF("doc_id", "pos", "nt", "atl_g", "pr_g",
        "swr_g")).collect()
    assert(got2.forall(_.getString(1) == "swr_g"))
    assert(got2.forall(_.getLong(6) == 1000000L))
  }

  test("q248 k-center: exact hand trace on axis-aligned points, id tie-break") {
    // four compass points + a duplicate of v0: the greedy trace is
    // fully determined with EXACT gridded distances (cos is exactly
    // ±1/0 on axis-aligned vectors): seed 0 (sentinel tie -> min id),
    // then the antipode, then the 1e6-tie broken to id 1, then id 3,
    // final cover 0 (the duplicate is covered by its twin)
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)), (2L, Array(-1f, 0f)),
      (3L, Array(0f, -1f)), (4L, Array(1f, 0f)))
    val got = graft.operators.VectorOps
      .kCenter(emb.toDF("vec_id", "embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 0L, 2000000L), (2L, 2L, 1000000L),
      (3L, 1L, 1000000L), (4L, 3L, 0L)))
    // WIDE-ARM replay (round-15 adaptive argmax width, the q284
    // recipe): the same corpus with every vec id offset past the
    // 40-bit narrow-pack ceiling must route through the DECIMAL(38,0)
    // pick key and produce the IDENTICAL trace with center ids offset
    // (distances and tie-break order are id-shift-invariant)
    val off = (1L << 41) + 5L
    val gotWide = graft.operators.VectorOps
      .kCenter(emb.map { case (id, v) => (id + off, v) }
        .toDF("vec_id", "embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(gotWide.toSeq === Seq((1L, 0L + off, 2000000L),
      (2L, 2L + off, 1000000L), (3L, 1L + off, 1000000L),
      (4L, 3L + off, 0L)), "wide-arm k-center trace diverged")
  }

  test("q249 retrieval gain: perfect arm scores exactly ideal, hand-graded variants") {
    def arm(q: Long, ids: Seq[Long]): Seq[(Long, Long, Long)] =
      ids.zipWithIndex.map { case (n, i) => (q, n, i + 1L) }
    val ideal = (1 to 10).map(r => (11 - r).toLong * (1000000L / r)).sum
    val exact = (arm(1L, 101L to 110L) ++ arm(2L, 201L to 210L) ++
      arm(3L, 301L to 310L))
      .toDF("query_id", "neighbor_id", "erank")
    // q1: identical ranking -> ratio exactly 1e6; q2: reversed; q3:
    // fully disjoint results -> gain 0
    val approx = (arm(1L, 101L to 110L) ++
      arm(2L, (201L to 210L).reverse) ++ arm(3L, 901L to 910L))
      .toDF("query_id", "neighbor_id", "arank")
    val got = graft.operators.VectorOps.retrievalGain(exact, approx)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((ideal, ideal, 1000000L)), "perfect arm")
    val revGain = (1 to 10).map { r =>
      (11 - (11 - r)).toLong * (1000000L / r) }.sum
    assert(got(2L) === ((revGain, ideal, revGain * 1000000L / ideal)),
      "reversed arm hand-graded")
    assert(got(3L) === ((0L, ideal, 0L)), "disjoint arm")
    // order sensitivity: same SET, worse ORDER -> strictly lower gain
    // (exactly what q136's recall cannot see)
    assert(got(2L)._1 < got(1L)._1)
  }

  test("q250 assortativity: star is exactly -1, regular graph degenerates to NULL") {
    def run(edges: Seq[(Long, Long)]) = graft.operators.Relational
      .assortativity(edges.toDF("pa", "pb")).collect().head
    // star K1,3: perfectly disassortative
    val star = run(Seq((1L, 2L), (1L, 3L), (1L, 4L)))
    assert(star.getLong(0) === 3L)
    assert(star.getLong(4) === -1000000L)
    // 4-cycle: every excess degree equal -> zero variance -> NULL
    val cyc = run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)))
    assert(cyc.isNullAt(4))
    // mixed graph: JVM Pearson replay over edge endpoint excess degs
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (5L, 7L))
    val r = run(g)
    val deg = g.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val (m, pairs) = (g.size.toLong,
      g.map { case (a, b) => (deg(a) - 1L, deg(b) - 1L) })
    val s1 = pairs.map(p => p._1 + p._2).sum
    val s2 = pairs.map(p => p._1 * p._1 + p._2 * p._2).sum
    val s3 = pairs.map(p => p._1 * p._2).sum
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((m, s1, s2, s3)))
    val expected = math.floor(
      (4.0 * m * s3 - s1.toDouble * s1) /
        (2.0 * m * s2 - s1.toDouble * s1) * 1000000.0 + 0.5).toLong
    assert(r.getLong(4) === expected)
  }

  test("q251 Good-Turing: hand-built spectrum, gap NULL, clamp boundary") {
    // 5 hapaxes, 3 doubletons, 1 tripleton, one heavy term past the
    // r<=20 clamp; no r=4 -> the r=3 row's adjusted count is NULL
    val freqs = (Seq.fill(5)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L, 25L))
      .zipWithIndex.map { case (r, i) => (s"t$i", r) }
    val got = graft.operators.TextOps
      .goodTuring(freqs.toDF("term", "r")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet === Set(1L, 2L, 3L), "clamped row excluded")
    assert(got(1L).getLong(1) === 5L)
    assert(got(1L).getLong(2) === 2L * 3L * 1000L / 5L) // (r+1)N2/N1
    assert(got(2L).getLong(1) === 3L)
    assert(got(2L).getLong(2) === 3L * 1L * 1000L / 3L)
    assert(got(3L).getLong(1) === 1L)
    assert(got(3L).isNullAt(2), "spectrum gap -> NULL adjusted count")
  }

  test("q252 Cohen kappa: textbook 2x2 table, degenerate marginal NULL") {
    def rate(a: Int, b: Int, c: Int, d: Int) =
      (Seq.fill(a)((true, true)) ++ Seq.fill(b)((true, false)) ++
        Seq.fill(c)((false, true)) ++ Seq.fill(d)((false, false)))
        .toDF("model", "rules")
    val r = graft.operators.TextOps.cohenKappa(rate(40, 10, 5, 45))
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((100L, 40L, 10L, 5L, 45L)))
    assert(r.getLong(5) === 850000L) // po = 85/100
    assert(r.getLong(6) === 500000L) // pe = (50*45 + 50*55)/1e4
    assert(r.getLong(7) === 700000L) // kappa = (0.85-0.5)/(1-0.5)
    // all four raters agree on one cell: pe = 1 -> kappa undefined
    val deg = graft.operators.TextOps.cohenKappa(rate(7, 0, 0, 0))
      .collect().head
    assert(deg.isNullAt(7))
  }

  test("q253 source ablation: subtraction algebra hand-checked per source") {
    val docs = Seq(("A", 10L, true), ("A", 20L, false),
      ("B", 30L, true), ("C", 40L, false))
    val got = graft.operators.TextOps
      .sourceAblation(docs.toDF("source", "nt", "pass")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // totals: gn=4, gt=100, gp=2, global pass 500000 ppm
    assert(got("A") === ((2L, 35000L, 500000L, 0L)))
    assert(got("B") === ((3L, 70000L / 3L, 333333L, -166667L)))
    assert(got("C") === ((3L, 20000L, 666666L, 166666L)))
    // single-source corpus: remainder empty -> NULLs, no div-by-zero
    val solo = graft.operators.TextOps
      .sourceAblation(Seq(("A", 5L, true)).toDF("source", "nt", "pass"))
      .collect().head
    assert(solo.getLong(1) === 0L && solo.isNullAt(2) &&
      solo.isNullAt(3) && solo.isNullAt(4))
  }

  test("q254 PPR: exact replay on a crafted cycle, seed dominates via restarts") {
    // view -> click (3), click -> {buy, view}, buy -> view: restart
    // mass keeps returning to 'view'
    val edges = Seq(("view", "click", 3L), ("click", "buy", 1L),
      ("click", "view", 1L), ("buy", "view", 1L))
    val got = graft.operators.EventOps
      .pprRounds(edges.toDF("src", "dst", "n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // identical-arithmetic JVM replay of the 3 seeded rounds
    val wout = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var r = nodes.map(nd =>
      nd -> (if (nd == "view") 1000000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      val s = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for ((a, b, n) <- edges)
        s(b) += math.floor((r(a) * n).toDouble / wout(a)).toLong
      r = nodes.map(nd => nd ->
        ((if (nd == "view") 150000000L else 0L) +
          math.floor(s(nd) * 85.0 / 100.0).toLong)).toMap
    }
    assert(got === r, "exact ppb replay")
    // proximity ranking: the seed outranks everything, and click (one
    // hop out, fed every round) outranks buy (two hops)
    assert(got("view") > got("click") && got("click") > got("buy"))
  }

  test("q255 dup weights: banded census, singletons weight 1e6, floor thirds") {
    val docs = (1L to 6L).map(Tuple1(_)).toDF("doc_id")
    val clusters = Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 2L), (5L, 2L))
      .toDF("doc_id", "cluster_size")
    val got = graft.operators.TextOps.dupWeights(docs, clusters)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got === Map(
      1L -> ((1L, 1000000L)),       // doc 6: absent -> singleton
      2L -> ((2L, 1000000L)),       // two halves
      3L -> ((3L, 999999L))))       // three floor-thirds lose 1 ppm
  }

  test("q256 Simpson diversity: exact rational per source, hapax and singleton edges") {
    val toks = Seq(("A", "x"), ("A", "x"), ("A", "x"), ("A", "y"),
      ("B", "a"), ("B", "b"), ("B", "c"), ("C", "z"))
      .toDF("source", "term")
    val got = graft.operators.TextOps.simpsonDiversity(toks).collect()
      .map(r => r.getString(0) -> r).toMap
    // A: N=4 V=2 coll=3*2=6 -> ttr 1/2, simpson 6/12 = 1/2
    assert(got("A").getLong(1) === 4L && got("A").getLong(2) === 2L)
    assert(got("A").getLong(3) === 500000L)
    assert(got("A").getLong(4) === 500000L)
    // B: all hapax -> zero collision probability
    assert(got("B").getLong(4) === 0L)
    // C: one token -> undefined (N < 2)
    assert(got("C").getLong(3) === 1000000L && got("C").isNullAt(4))
  }

  test("q257 MinHash calibration: identical pairs land in the matches=8 bin at J=1") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "v w x y z q"), (4L, "v w x y z q"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextOps.minhashCalibration(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // identical docs share every signature slice and have exact J = 1;
    // cross pairs would need a 32-bit band-key collision between
    // unrelated shingle sets (deterministically absent here)
    assert(got === Map(8L -> ((1000000L, 2L, 1000000L))))
  }

  test("q258 Moore-Lewis: JVM grid replay and in-domain separation") {
    val toks = Seq(
      (1L, "en", "alpha"), (1L, "en", "alpha"), (1L, "en", "beta"),
      (2L, "en", "alpha"), (2L, "en", "beta"), (2L, "en", "beta"),
      (2L, "en", "gamma"),
      (3L, "fr", "rouge"), (3L, "fr", "rouge"), (3L, "fr", "vert"),
      (4L, "fr", "rouge"), (4L, "fr", "vert"), (4L, "fr", "bleu"),
      (4L, "fr", "bleu"))
      .toDF("doc_id", "lang", "term")
    def lnG(x: Long): Long =
      math.floor(math.log(x.toDouble) * 1e6 + 0.5).toLong
    // independent replay of the whole integer pipeline
    val rows = Seq(
      (1L, "en", Seq("alpha", "alpha", "beta")),
      (2L, "en", Seq("alpha", "beta", "beta", "gamma")),
      (3L, "fr", Seq("rouge", "rouge", "vert")),
      (4L, "fr", Seq("rouge", "vert", "bleu", "bleu")))
    val all = rows.flatMap(_._3)
    val cf = all.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val cfi = rows.filter(_._2 == "en").flatMap(_._3)
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val v = cf.size.toLong
    val dIn = lnG(cfi.values.sum + v)
    val dGen = lnG(all.size.toLong + v)
    val ce = rows.map { case (id, lang, ts) =>
      val n = ts.size.toLong
      val sd = ts.map(t =>
        lnG(cf(t) + 1) - lnG(cfi.getOrElse(t, 0L) + 1)).sum
      (id, lang, n,
        math.floor((sd + n * (dIn - dGen)) / (n * 1000.0)).toLong)
    }
    val bands = ce.groupBy { case (_, _, _, m) =>
      math.max(-12L, math.min(12L, math.floor(m / 250.0).toLong))
    }
    val expect = bands.map { case (b, ds) =>
      b -> ((ds.size.toLong, ds.count(_._2 == "en").toLong,
        ds.map(_._3).sum,
        math.floor(ds.map(_._4).sum.toDouble / ds.size).toLong))
    }
    val got = graft.operators.TextOps.mooreLewis(toks).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expect, "banded census replay")
    // separation: every in-domain doc scores below every out-domain doc
    val enMax = ce.filter(_._2 == "en").map(_._4).max
    val frMin = ce.filter(_._2 == "fr").map(_._4).min
    assert(enMax < frMin, "Moore-Lewis separates the in-domain stratum")
  }

  test("q259 JSD: identical halves 0, disjoint vocabularies ln 2, single source NULL") {
    def lnG(x: Long): Long =
      math.floor(math.log(x.toDouble) * 1e6 + 0.5).toLong
    // identical token multisets -> p grid == q grid -> exactly 0
    val same = Seq(("A", "x"), ("A", "x"), ("A", "y"),
      ("B", "x"), ("B", "x"), ("B", "y")).toDF("source", "term")
    val g1 = graft.operators.TextOps.jsdSources(same).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(g1("A").getDouble(5) === 0.0 && g1("B").getDouble(5) === 0.0)
    assert(g1("A").getLong(4) === 0L, "no out-of-vocabulary remainder")
    // disjoint vocabularies -> jsd = ln 2 up to the grid
    val disj = Seq(("A", "a"), ("A", "a"), ("B", "b"), ("B", "b"))
      .toDF("source", "term")
    val g2 = graft.operators.TextOps.jsdSources(disj).collect()
      .map(r => r.getString(0) -> r).toMap
    // replay source A exactly: one term, p = 1e9, q = 0, full residual
    val pterm = 1000000000L * (lnG(2000000000L) - lnG(1000000000L))
    val exact = math.floor(
      (pterm + 1000000000L * 693147L) / 2.0e15 * 1e6 + 0.5) / 1e6
    assert(g2("A").getDouble(5) === exact)
    assert(math.abs(g2("A").getDouble(5) - math.log(2.0)) < 1e-4)
    assert(g2("A").getLong(3) === 1L, "term a is exclusive to A")
    assert(g2("A").getLong(4) === 1000000000L, "whole rest mass is OOV")
    // single-source corpus: n_rest = 0 -> NULL divergence both sides
    val solo = Seq(("C", "z"), ("C", "z")).toDF("source", "term")
    val g3 = graft.operators.TextOps.jsdSources(solo).collect()
    assert(g3.length === 1 && g3(0).isNullAt(4) && g3(0).isNullAt(5))
  }

  test("q275 incremental append ≡ full rebuild, incl. over-cap displacement and a new-new bucket") {
    import graft.operators.TextOps
    // ids 0..64 share text A (65 members — OVER the 64 bucket cap, so
    // id 64 must be cap-displaced in BOTH paths); 65/66 share text C (a
    // brand-new bucket born entirely in the delta — a new-new pair).
    // cut = (66*9) div 10 = 59: indexed = 0..58, delta = 59..66.
    val a = "alpha beta gamma delta epsilon zeta"
    val c = "omega psi chi phi upsilon tau"
    val docs = ((0L to 64L).map(i => (i, a)) ++ Seq((65L, c), (66L, c)))
      .toDF("doc_id", "text")
    val full = TextOps.lshPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val inc = TextOps.incrementalPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(inc.toSeq === full.toSeq,
      "append path must be indistinguishable from the full rebuild")
    // hand count: A pairs = C(64,2) over ids 0..63 (64 displaced) =
    // 2016, plus the (65,66) C pair = 2017; delta-involving (d2 ≥ 59):
    // d2 ∈ 59..63 against all smaller A ids = 59+60+61+62+63 = 305,
    // plus (65,66) = 306
    assert(full.length === 2017)
    assert(full.count(_._2 >= 59L) === 306)
    assert(!full.exists(p => p._1 === 64L || p._2 === 64L),
      "the 65th identical doc must be cap-displaced in both paths")
  }

  test("q274 USDA capstone: tabula fixture repaired exactly, junk row positional-dropped") {
    val rows = graft.stg.Normalizer
      .q274UsdaCapstone(spark, "/root/testdata/sf0.001").collect()
    // 12 fixture data lines -> 9 survivors: the UNITS row (positional
    // skip ONLY — it has 4 non-null cells, so the sparse-row drop
    // cannot catch it) and the two 1-cell junk rows must be gone
    assert(rows.length === 9)
    val byCountry = rows.map(r => r.getString(0) -> r).toMap
    assert(!byCountry.contains("Units"),
      "the junk units row survived — the positional iloc[1:] skip broke")
    assert(byCountry.keySet === Set("Argentina", "Australia", "Brazil",
      "China", "India", "Mali", "Pakistan", "Turkey", "USA"))
    // spot-replay Brazil: separators stripped, fused split, ints cast
    val br = byCountry("Brazil")
    assert(br.getInt(1) === 9700 && br.getInt(2) === 13100 &&
      br.getInt(3) === 2710 && br.getInt(4) === 9400)
    assert(br.getString(5) === "2022/23" && br.getString(6) === "2022-12-01")
  }

  test("q271 full refresh: overwrite replaces the stale snapshot exactly") {
    val sf = "/root/testdata/sf0.001"
    val row = Staging.q271FullRefresh(spark, sf).collect()(0)
    // independent replay: the survivor census must equal the REFRESH
    // window alone — append semantics would double the 1995 overlap and
    // a partial delete would pull min_od before 1995
    val refresh = graft.sources.Tables.orders(spark, sf)
      .select(col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))
      .filter(col("od") >= "1995-01-01")
      .collect()
    assert(row.getAs[Long]("n_orders") === refresh.length.toLong)
    assert(row.getAs[String]("min_od") >= "1995-01-01")
    val cents = refresh
      .map(r => math.floor(r.getDouble(0) * 100.0 + 0.5).toLong).sum
    assert(row.getAs[Double]("total_price") === cents / 100.0)
    // rerun-stable: a second refresh round trip reproduces the census
    val again = Staging.q271FullRefresh(spark, sf).collect()(0)
    assert(again.toSeq === row.toSeq)
  }

  test("q272 truncate reload: temp holds ONLY the last batch, upsert keeps each key once") {
    val sf = "/root/testdata/sf0.001"
    val rows = Staging.q272TruncateReload(spark, sf).collect()
      .map(r => r.getAs[String]("relation") -> r).toMap
    assert(rows.keySet === Set("merged", "tmp"))
    val residues = graft.sources.Tables.customer(spark, sf)
      .select((col("c_custkey") % 4).as("r")).collect()
      .map(_.getLong(0)).groupBy(identity).view.mapValues(_.length.toLong)
    // truncate proof: batch-1-only keys (residue 0) must be GONE from
    // the reloaded temp, and its count is exactly batch 2
    assert(rows("tmp").getAs[Long]("n_key0") === 0L)
    assert(rows("tmp").getAs[Long]("n_rows") ===
      residues.getOrElse(1L, 0L) + residues.getOrElse(2L, 0L))
    // upsert proof: merged = batch-1-only ∪ batch-2, each key once
    // (overlap residue 1 not doubled)
    assert(rows("merged").getAs[Long]("n_key0") === residues.getOrElse(0L, 0L))
    assert(rows("merged").getAs[Long]("n_rows") ===
      residues.getOrElse(0L, 0L) + residues.getOrElse(1L, 0L) +
        residues.getOrElse(2L, 0L))
  }

  test("q273 golden CSV: header + format survive the text round trip") {
    val sf = "/root/testdata/sf0.001"
    val row = graft.mart.Extracts.q273GoldenCsv(spark, sf).collect()(0)
    val orders = graft.sources.Tables.orders(spark, sf)
      .select(col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od")).collect()
    assert(row.getAs[Long]("n_rows") === orders.length.toLong)
    assert(row.getAs[Long]("n_bad_format") === 0L)
    assert(row.getAs[String]("min_date") ===
      orders.map(_.getString(1)).min + " 00:00:00")
    val cents = orders
      .map(r => math.floor(r.getDouble(0) * 100.0 + 0.5).toLong).sum
    assert(row.getAs[Double]("total_price") === cents / 100.0,
      "cent-grid money must survive Double.toString/parse exactly")
    // the on-disk artifact is ONE csv file with the golden header row
    val dir = new java.io.File(
      s"/tmp/graft_golden_q273_${ProcessHandle.current().pid()}" +
        "_root_testdata_sf0.001")
    val parts = dir.listFiles().filter(_.getName.endsWith(".csv"))
    assert(parts.length === 1, "golden format is a single csv file")
    val header = scala.io.Source.fromFile(parts(0)).getLines().next()
    assert(header === "o_orderkey,business_date,o_totalprice")
  }

  test("q276 count-min: independent JVM sketch replay + one-sided guarantee") {
    import graft.operators.TextOps
    // crafted occurrence stream: two heavy terms with known counts plus
    // 600 unique fillers — more keys than CmsW=512 buckets per row, so
    // collisions (overestimates) are guaranteed live
    val occs = Seq.fill(7)("alpha beta gamma") ++
      Seq.fill(4)("beta gamma delta") ++
      (0 until 600).map(i => s"filler_$i x y")
    val got = TextOps.countMinCalibrate(occs.toDF("term")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // full JVM replay from first principles (no TextOps arithmetic)
    def bucketsOf(t: String): Seq[(Int, Long)] = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (1 to 4).map(j =>
        j -> java.lang.Long.parseLong(hex.substring(8 * j - 8, 8 * j), 16) % 512L)
    }
    val cells = occs.flatMap(bucketsOf)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val expect = occs.groupBy(identity)
      .map { case (t, os) => t -> os.size.toLong }.toSeq
      .sortBy { case (t, c) => (-c, t) }.take(20)
      .map { case (t, c) =>
        val est = bucketsOf(t).map(cells).min
        (t, c, est, (est - c) * 1000000L / c)
      }
    assert(got.toSeq === expect, "CMS replay diverged")
    // crafted collisions must actually be live (some over_ppm > 0)
    assert(expect.exists(_._4 > 0L), "no live collision in crafted corpus")
    // CMS one-sided guarantee on the live corpus
    val live = TextOps.q276CountMin(spark, "/root/testdata/sf0.001").collect()
    assert(live.length > 0)
    live.foreach { r =>
      assert(r.getAs[Long]("est_cms") >= r.getAs[Long]("n_exact"),
        s"CMS underestimated: $r")
      assert(r.getAs[Long]("over_ppm") >= 0L, s"negative over_ppm: $r")
    }
  }

  test("q277 conformal: brute-force order-statistic replay + infinite-interval branch") {
    import graft.operators.StatsOps
    // crafted stream: 3 users x 17 readings -> 48 scored rows, enough
    // calibration mass that every swept alpha yields a finite interval
    val raw = for {
      u <- 1L to 3L
      i <- 0L until 17L
    } yield {
      // deterministic sawtooth with user-dependent amplitude: residual
      // magnitudes vary so the score histogram has real spread
      val v = 100.0 + u * ((i % 5) - 2) * 1.25 + i * 0.01
      (u, u * 100L + i, 1000L + i, v)
    }
    val ev = raw.toDF("user_id", "event_id", "tsec", "value")
    val got = StatsOps.conformal(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]),
        r.getLong(5), r.getLong(6)))
    // textbook replay, no StatsOps arithmetic: per-user time order,
    // absolute micro-residuals, ceil to centi, even/odd split, k-th
    // smallest calibration score by sorting
    def micro(v: Double): Long = math.floor(v * 1000000.0 + 0.5).toLong
    val scored = raw.groupBy(_._1).toSeq.flatMap { case (_, evs) =>
      evs.sortBy(e => (e._3, e._2)).sliding(2).collect {
        case Seq(a, b) =>
          (b._2, (math.abs(micro(b._4) - micro(a._4)) + 9999L) / 10000L)
      }
    }
    val cal = scored.filter(_._1 % 2 == 0).map(_._2).sorted
    val tst = scored.filter(_._1 % 2 != 0).map(_._2)
    val expect = Seq(50000L, 100000L, 200000L).map { a =>
      val k = ((cal.size + 1) * (1000000L - a) + 999999L) / 1000000L
      val qhat = if (k <= cal.size) Some(cal(k.toInt - 1)) else None
      val covered = qhat.map(q => tst.count(_ <= q).toLong)
        .getOrElse(tst.size.toLong)
      (a, cal.size.toLong, tst.size.toLong, k, qhat, covered,
        covered * 1000000L / tst.size)
    }
    assert(got.toSeq === expect, "conformal replay diverged")
    assert(expect.forall(_._5.isDefined),
      "crafted corpus must exercise the finite-interval branch")
    // the infinite-interval branch: 3 calibration points cannot support
    // alpha=0.05 (k=4 > 3) -> NULL qhat, everything covered
    val tiny = Seq(
      (1L, 2L, 1L, 10.0), (1L, 3L, 2L, 11.0), (1L, 4L, 3L, 10.5),
      (1L, 5L, 4L, 12.0), (1L, 6L, 5L, 9.0), (1L, 7L, 6L, 9.25),
      (1L, 8L, 7L, 9.5)).toDF("user_id", "event_id", "tsec", "value")
    val t5 = StatsOps.conformal(tiny).collect()
      .find(_.getLong(0) == 50000L).get
    assert(t5.isNullAt(4), "k > n_cal must yield the NULL-qhat interval")
    assert(t5.getLong(5) === t5.getLong(2),
      "infinite interval must cover every test row")
    assert(t5.getLong(6) === 1000000L)
  }

  test("q278 Kneser-Ney: exact hand-computed table + discount-below-MLE") {
    import graft.operators.TextOps
    // corpus: "a b a c" + "b a b" -> bigrams (a,b)x2 (b,a)x2 (a,c)x1
    // c_v: a=3 b=2; N1+(a·)=2 N1+(b·)=1; N1+(·a)=1 N1+(·b)=1 N1+(·c)=1; B=3
    val docs = Seq((1L, "a b a c"), (2L, "b a b")).toDF("doc_id", "text")
    val got = TextOps.kneserNey(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8)))
    // hand arithmetic: P_KN(b|a) = 1.25/3 + .75*2/3 * 1/3 = 0.583333...
    //   P_KN(a|b) = 1.25/2 + .75*1/2 * 1/3 = 0.75
    //   P_KN(c|a) = 0.25/3 + .75*2/3 * 1/3 = 0.25
    val expect = Seq(
      ("a", "b", 2L, 3L, 2L, 1L, 3L, 666666L, 583333L),
      ("b", "a", 2L, 2L, 1L, 1L, 3L, 1000000L, 750000L),
      ("a", "c", 1L, 3L, 2L, 1L, 3L, 333333L, 250000L))
    assert(got.toSeq === expect, "KN hand table diverged")
    // the smoother must discount every seen bigram below its MLE
    // whenever the backoff mass routed back is smaller than d/c_v
    // (always true here), and never emit a probability > 1
    got.foreach { r =>
      assert(r._9 <= r._8, s"KN above MLE: $r")
      assert(r._9 >= 0L && r._9 <= 1000000L, s"KN off the ppm range: $r")
    }
  }

  test("q279 k-truss: crafted K4 + weak triangle + bridge, full peel replay") {
    import graft.operators.Relational
    // K4 on {1,2,3,4} (every edge in 2 triangles), a weak triangle
    // {4,5,6} (each edge in 1), and a bridge (6,7) in none. minSup=2
    // must peel the weak triangle and the bridge in round 1 and then
    // hold the K4 as the fixed point.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)).toDF("pa", "pb")
    val got = Relational.kTrussTrace(edges, 2L).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expect = Seq(
      ("r0_edges", 10L), ("r0_tri", 5L),
      ("r1_edges", 6L), ("r1_tri", 4L),
      ("r2_edges", 6L), ("r2_tri", 4L),
      ("r3_edges", 6L))
    assert(got.toSeq === expect, "k-truss peel trace diverged")
    // the trace depth is a parameter (round-12 advice): a 1-round
    // trace is the prefix of the full replay, nothing hardcoded
    val shallow = Relational.kTrussTrace(edges, 2L, rounds = 1).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(shallow.toSeq === expect.take(3),
      "1-round k-truss trace is not the 3-round prefix")
    // >2³²-id replay (round-14: the triangle orientation dropped its
    // 31/32-bit packed okey for a lexicographic (deg, id) comparison —
    // no ceiling at all): the same graph with every node id offset
    // past 2³² must produce the identical id-invariant peel census
    val off = (1L << 33) + 7L
    val wide = edges.select(
      (col("pa") + off).as("pa"), (col("pb") + off).as("pb"))
    val gotWide = Relational.kTrussTrace(wide, 2L).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(gotWide.toSeq === expect, ">2^32-id k-truss trace diverged")
  }

  test("co-purchase basket guard: a mega-basket fails loudly, honest baskets pass") {
    import graft.operators.Relational
    // one order holding CoBasketCap+1 distinct parts would square to
    // >16M pairs PER ORDER at the self-join — the guard must refuse
    // it loudly (round-12 verdict item 4), not let the square run
    val mega = (1L to Relational.CoBasketCap + 1L)
      .map(p => (1L, p)).toDF("l_orderkey", "l_partkey")
    val ex = intercept[Exception] {
      Relational.basketPairs(mega).count()
    }
    def rootMsg(t: Throwable): String =
      (t.getMessage + Option(t.getCause).map(rootMsg).getOrElse(""))
    assert(rootMsg(ex).contains("basketPairs"),
      s"mega-basket guard fired the wrong error: ${rootMsg(ex)}")
    // an honest basket at the cap boundary passes and pairs correctly
    val ok = (1L to 4L).map(p => (1L, p)) ++ Seq((2L, 9L))
    val pairs = Relational.basketPairs(
      ok.toDF("l_orderkey", "l_partkey")).count()
    assert(pairs === 6L, s"expected C(4,2)=6 pairs, got $pairs")
  }

  test("q280 SPRT: crafted h1/h0/continue streams with multi-day carries") {
    import graft.operators.EventOps
    // ln(11/9) micro walk: |2S-n| must reach 15 (200671*15 = 3010065
    // >= 2944439) before a decision fires. Streams span 12 days
    // (tsec = i*50000) so the two-phase day-carry path is live.
    def stream(t: String, base: Long, vals: Seq[Double]) =
      vals.zipWithIndex.map { case (v, i) =>
        (t, base + i, i.toLong * 50000L, v)
      }
    val ev = (
      stream("up", 100L, Seq.fill(20)(300.0)) ++
      stream("down", 200L, Seq.fill(20)(10.0)) ++
      stream("flat", 300L, (0 until 20).map(i =>
        if (i % 2 == 0) 300.0 else 10.0))
    ).toDF("event_type", "event_id", "tsec", "value")
    val got = EventOps.sprt(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getString(5)))
    val expect = Seq(
      ("down", 20L, -4013420L, Some(15L), Some(-3010065L), "accept_h0"),
      ("flat", 20L, 0L, None, None, "continue"),
      ("up", 20L, 4013420L, Some(15L), Some(3010065L), "accept_h1"))
    assert(got.toSeq === expect, "SPRT walk diverged")
  }

  test("q281 TextRank: exact JVM power-iteration replay on a star graph") {
    import graft.operators.TextOps
    // "hub x hub y hub z": bigrams symmetrize to a star with weighted
    // spokes (hub-x 2, hub-y 2, hub-z 1 each direction); the hub must
    // dominate, and every ppb value must match the exact grid replay
    val docs = Seq((1L, "hub x hub y hub z")).toDF("doc_id", "text")
    val got = TextOps.textRank(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // independent replay of the damped grid walk
    val edges = Map(
      ("hub", "x") -> 2L, ("x", "hub") -> 2L,
      ("hub", "y") -> 2L, ("y", "hub") -> 2L,
      ("hub", "z") -> 1L, ("z", "hub") -> 1L)
    val nodes = Seq("hub", "x", "y", "z")
    val wout = edges.groupBy(_._1._1).map { case (s, es) =>
      s -> es.values.sum
    }
    var r = nodes.map(_ -> 250000000L).toMap // floor(1e9 / 4)
    for (_ <- 1 to 3) {
      val s = nodes.map { n =>
        n -> edges.collect { case ((src, dst), w) if dst == n =>
          math.floor((r(src) * w).toDouble / wout(src)).toLong
        }.sum
      }.toMap
      r = nodes.map(n =>
        n -> (37500000L + math.floor(s(n) * 85.0 / 100.0).toLong)).toMap
    }
    val expect = r.toSeq.map { case (n, v) => (n, v) }
      .sortBy { case (n, v) => (-v, n) }
    assert(got.toSeq === expect, "TextRank grid replay diverged")
    assert(got.head._1 === "hub", "star center must rank first")
  }

  test("q282 Borůvka: hand-solved MST trace, final weight = Kruskal's") {
    import graft.operators.Relational
    // 5-node graph whose unique MST (Kruskal by hand) is
    // {(2,3,1),(3,4,2),(1,5,3),(1,3,4)} with total weight 10:
    // round 1 picks (1,5,3),(2,3,1),(3,4,2) and contracts to
    // {1,5},{2,3,4}; round 2 picks the (1,3,4) bridge; round 3 is the
    // fixed point (no candidate crosses components).
    val edges = Seq(
      (1L, 2L, 5L), (2L, 3L, 1L), (3L, 4L, 2L),
      (1L, 3L, 4L), (4L, 5L, 10L), (1L, 5L, 3L))
      .toDF("pa", "pb", "w")
    val got = Relational.boruvkaTrace(edges).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expect = Seq(
      ("r0_components", 5L),
      ("r1_components", 2L), ("r1_mst_weight", 6L), ("r1_new_edges", 3L),
      ("r2_components", 1L), ("r2_mst_weight", 10L), ("r2_new_edges", 1L),
      ("r3_components", 1L), ("r3_mst_weight", 10L), ("r3_new_edges", 0L))
    assert(got.toSeq === expect, "Borůvka trace diverged")
    // WIDE-ARM replay (round-13 adaptive key width): the same graph
    // with every id offset past the 21-bit narrow-pack ceiling (and
    // one past 2^32) must run through the DECIMAL(38,0) argmin key and
    // produce the IDENTICAL census — weights and counts are
    // id-invariant, so any divergence is a pack/decode bug in the
    // wide arm (the arm the 100x sweep's 13.6M part keys exercise)
    val off = (1L << 33) + 12345L
    val wide = edges.select(
      (col("pa") + off).as("pa"), (col("pb") + off).as("pb"), col("w"))
    val gotWide = Relational.boruvkaTrace(wide).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(gotWide.toSeq === expect, "wide-arm Borůvka trace diverged")
  }

  test("q283 Naive Bayes: first-principles textbook replay on a crafted split") {
    import graft.operators.TextOps
    // doc_id % 10 < 8 trains (1-4), 8/9 evaluate; includes an unseen
    // test token (d in doc 8's vocab view for en) so the
    // no-join-arm-for-unseen algebra is exercised
    val docs = Seq(
      (1L, "a a b", "en"), (2L, "a b", "en"),
      (3L, "c c", "fr"), (4L, "c d", "fr"),
      (8L, "a b c", "en"), (9L, "c c d", "fr"))
      .toDF("doc_id", "text", "lang")
    val got = TextOps.naiveBayes(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // textbook NB replay, grid arithmetic from first principles
    def g(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong
    val train = Map("en" -> Seq("a", "a", "b", "a", "b"),
      "fr" -> Seq("c", "c", "c", "d"))
    val v = train.values.flatten.toSet.size // 4
    val nl = Map("en" -> 2L, "fr" -> 2L)
    def score(toks: Seq[String], l: String): Long = {
      val cnt = train(l).groupBy(identity).view.mapValues(_.size).toMap
      (g(nl(l)) - g(4.0)) +
        toks.map(t => cnt.get(t).map(c => g(c + 1.0)).getOrElse(0L)).sum -
        toks.size * g(train(l).size + v.toDouble)
    }
    val tests = Map(8L -> ("en", Seq("a", "b", "c")),
      9L -> ("fr", Seq("c", "c", "d")))
    val preds = tests.map { case (_, (lt, toks)) =>
      val best = Seq("en", "fr").map(l => (score(toks, l), l))
        .sortBy { case (s, l) => (-s, l) }.head._2
      (lt, best)
    }.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.map { case ((a, b), n) => (a, b, n) }.sortBy(x => (x._1, x._2))
    assert(got.toSeq === preds, "NB confusion replay diverged")
    // the crafted corpus is separable: the classifier must be perfect
    assert(got.toSeq === Seq(("en", "en", 1L), ("fr", "fr", 1L)),
      "crafted separable corpus must classify perfectly")
  }

  test("q284 set cover: hand-solved greedy trace incl. subset skip, tie, exhaustion") {
    import graft.operators.TextOps
    // shingle sets: doc10 has 5, doc20's 3 are a SUBSET of doc10's
    // (never picked — zero marginal gain), doc30 has 2 fresh, doc40
    // and doc50 one fresh each (gain tie -> min doc_id first); the
    // universe (9) exhausts at round 4, round 5 must report the NULL
    // pick as doc -1 / gain 0
    val docs = Seq(
      (10L, "s1 s2 s3 s4 s5 s6 s7"),
      (20L, "s1 s2 s3 s4 s5"),
      (30L, "t1 t2 t3 t4"),
      (40L, "u1 u2 u3"),
      (50L, "v1 v2 v3")).toDF("doc_id", "text")
    val got = TextOps.setCoverTrace(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expect = Seq(
      ("r0_universe", 9L),
      ("r1_covered_ppm", 555555L), ("r1_doc", 10L), ("r1_gain", 5L),
      ("r2_covered_ppm", 777777L), ("r2_doc", 30L), ("r2_gain", 2L),
      ("r3_covered_ppm", 888888L), ("r3_doc", 40L), ("r3_gain", 1L),
      ("r4_covered_ppm", 1000000L), ("r4_doc", 50L), ("r4_gain", 1L),
      ("r5_covered_ppm", 1000000L), ("r5_doc", -1L), ("r5_gain", 0L))
    assert(got.toSeq === expect, "greedy set-cover trace diverged")
    // WIDE-ARM replay (round-14 adaptive argmax width): the same
    // corpus with every doc id offset past the 32-bit narrow-pack
    // ceiling must run through the DECIMAL(38,0) pick key and produce
    // the IDENTICAL trace with picked doc ids offset (gains, coverage,
    // and the NULL-pick sentinel are id-invariant)
    val off = (1L << 33) + 7L
    val gotWide = TextOps.setCoverTrace(
      docs.select((col("doc_id") + off).as("doc_id"), col("text")))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expectWide = expect.map {
      case (m, v) if m.endsWith("_doc") && v >= 0L => (m, v + off)
      case kv => kv
    }
    assert(gotWide.toSeq === expectWide,
      "wide-arm set-cover trace diverged")
  }

  test("q285 Neyman allocation: hand-computed apportionment + zero-variance fallback") {
    import graft.operators.StatsOps
    // strata: A constant (sd 0, weight 0), B sd=10 (w=2e7), C
    // sd=4.082483 (w=12247449); floors 0/620/379 leave ONE Hamilton
    // seat, won by C's larger remainder -> 0/620/380
    val docs = Seq(
      (1L, "A", 10L), (2L, "A", 10L), (3L, "A", 10L), (4L, "A", 10L),
      (5L, "B", 0L), (6L, "B", 20L),
      (7L, "C", 5L), (8L, "C", 15L), (9L, "C", 10L))
      .toDF("doc_id", "source", "n_chars")
    val got = StatsOps.neymanAlloc(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5),
        Option(r.get(6)).map(_.asInstanceOf[Long])))
    val expect = Seq(
      ("A", 4L, 0L, 0L, 10000L, 0L, None),
      ("B", 2L, 10000000L, 620L, 10000L, 2L, Some(10000L)),
      ("C", 3L, 4082483L, 380L, 10000L, 3L, Some(10000L)))
    assert(got.toSeq === expect, "Neyman apportionment diverged")
    assert(got.map(_._4).sum === 1000L, "allocation must spend the budget")
    // zero-variance corpus: proportional-to-size fallback, Hamilton
    // seat to the larger remainder (X: 666 rem 2, Y: 333 rem 1)
    val flat = Seq((1L, "X", 5L), (2L, "X", 5L), (3L, "Y", 7L))
      .toDF("doc_id", "source", "n_chars")
    val gotF = StatsOps.neymanAlloc(flat).collect()
      .map(r => (r.getString(0), r.getLong(3)))
    assert(gotF.toSeq === Seq(("X", 667L), ("Y", 333L)),
      "zero-variance proportional fallback diverged")
  }

  test("q286 entropy rate: uniform fork = ln 2, deterministic edge = 0, exact mix") {
    import graft.operators.EventOps
    // state a forks uniformly (H = ln 2 = 693147 micro-nats), state b
    // is deterministic (H = 0); the rate mixes them by visit mass:
    // (4*693147 + 0) div 7 = 396084
    val edges = Seq(
      ("a", "x", 2L), ("a", "y", 2L), ("b", "x", 3L))
      .toDF("src", "dst", "n")
    val got = EventOps.entropyRate(edges).collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3)))
    val expect = Seq(
      ("_overall", 7L, None, 396084L),
      ("a", 4L, Some(2L), 693147L),
      ("b", 3L, Some(1L), 0L))
    assert(got.toSeq === expect, "entropy-rate census diverged")
  }

}
