package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scale
import graft.sources.Tables

/** Proofs for the scale-technique operators: salting equivalence,
  * exchange-free bucketed joins, partition-scoped overwrite. */
class ScaleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Harness.session(4)
  import spark.implicits._

  private def freshTable(name: String): String = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // managed-table location is <warehouse>/<db>.db/<table> — resolve
    // the warehouse from the LIVE session: if another suite created the
    // shared session first, its (static) warehouse conf wins, and a
    // hardcoded path here would clean the wrong directory, leaving a
    // stale location behind to fail the CREATE with
    // LOCATION_ALREADY_EXISTS on the next run
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val loc = name.split('.') match {
      case Array(db, t) => s"$wh/$db.db/$t"
      case _ => s"$wh/$name"
    }
    new scala.reflect.io.Directory(new java.io.File(loc)).deleteRecursively()
    name
  }

  test("salted aggregation equals plain aggregation on skewed data") {
    // 90% of rows on one key — the classic hot-key shape
    val skewed = (1 to 2000).map { i =>
      (if (i <= 1800) "hot" else s"k${i % 7}", i.toDouble)
    }.toDF("k", "v")
    val plain = skewed.groupBy($"k")
      .agg(sum($"v").as("sum_v"), count(lit(1)).as("n_rows"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Scale.saltedSumCount(skewed, "k", "v", salts = 8)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted === plain)
  }

  test("bucketed tables join without an exchange") {
    val d = "/root/testdata/sf0.001"
    spark.sql("CREATE DATABASE IF NOT EXISTS stg")
    Scale.writeBucketed(Tables.orders(spark, d).select($"o_orderkey", $"o_totalprice"),
      freshTable("stg.b_orders"), "o_orderkey", 4)
    Scale.writeBucketed(Tables.lineitem(spark, d)
      .select($"l_orderkey", $"l_extendedprice"),
      freshTable("stg.b_lineitem"), "l_orderkey", 4)
    val joined = spark.table("stg.b_lineitem")
      .join(spark.table("stg.b_orders"),
        $"l_orderkey" === $"o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() === Tables.lineitem(spark, d).count())
  }

  test("bigram-vocab top-k plans as TakeOrderedAndProject, never a global sort") {
    val plan = graft.operators.TextOps.q62BigramVocab(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k lost its bounded per-partition shape:\n$plan")
  }

  test("staged dedup relations: warm reads are bare parquet scans; unwritable store falls back") {
    import graft.operators.TextOps
    val sf = "/root/testdata/sf0.001"
    val prevProp = sys.props.get("graft.stage.dir")
    try {
      // isolated store for this test
      sys.props("graft.stage.dir") = "/tmp/graft_stage_spec"
      new scala.reflect.io.Directory(new java.io.File("/tmp/graft_stage_spec")).deleteRecursively()
      TextOps.pairsStaged(spark, sf).count() // cold: computes + stages bands, pairs
      val warm = TextOps.pairsStaged(spark, sf)
      val plan = warm.queryExecution.executedPlan.toString
      // a warm staged read must be a parquet scan of the stage — any
      // Window/Generate node means the derivation ran again
      assert(plan.contains("graft_stage_spec"), s"not reading the stage:\n$plan")
      assert(!plan.contains("Window") && !plan.contains("Generate"),
        s"warm read re-derived the pipeline:\n$plan")
      // identical content cold vs warm
      assert(warm.count() === TextOps.lshPairs(
        graft.sources.Tables.documents(spark, sf)).count())
      // unwritable store: staging must FALL BACK to direct computation,
      // never fail the query
      sys.props("graft.stage.dir") = "/proc/graft_cannot_write_here"
      val fallback = TextOps.bandsStaged(spark, sf)
      assert(fallback.count() > 0)
    } finally {
      prevProp match {
        case Some(v) => sys.props("graft.stage.dir") = v
        case None => sys.props.remove("graft.stage.dir")
      }
      new scala.reflect.io.Directory(new java.io.File("/tmp/graft_stage_spec")).deleteRecursively()
    }
  }

  test("LSH bucket cap bounds pair generation on a degenerate mass-duplicate corpus") {
    // 10k identical docs: every band bucket collects the WHOLE corpus —
    // uncapped, that is one 10k-element array row and ~50M pairs from a
    // single task. The cap must bound it to C(MaxBucket, 2) pairs.
    val docs = (1 to 10000).map(i =>
      (i.toLong, "all work and no play makes a dull data engine indeed"))
      .toDF("doc_id", "text")
    val expected = 64 * 63 / 2 // C(MaxBucket=64, 2)
    val pairs = graft.operators.TextOps.lshPairs(docs).collect()
    assert(pairs.length === expected)
    assert(pairs.forall(_.getAs[Double]("jaccard") === 1.0))
    // deterministic truncation: the sorted-prefix doc ids survive
    assert(pairs.forall(r => r.getAs[Long]("d1") <= 64 && r.getAs[Long]("d2") <= 64))
    val sp = graft.operators.TextOps.simhashPairs(docs).collect()
    assert(sp.length === expected)
    assert(sp.forall(_.getAs[Long]("hamming") === 0L))
  }

  test("fact-fact arm plans as a shuffle join at realistic broadcast thresholds") {
    // at sf0.1 the static planner happens to broadcast orders; on a real
    // cluster orders is far past any broadcast threshold. Prove the 100×
    // behavior instead of assuming it: with broadcast off, the
    // lineitem⋈orders arm must become a shuffle join on the key while
    // the HINTED dimension arms keep their broadcast.
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.Relational.q3StarJoin(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan
      val planStr = plan.toString
      assert(planStr.contains("SortMergeJoin") || planStr.contains("ShuffledHashJoin"),
        s"no shuffle join in:\n$planStr")
      // nothing the size of a fact table sits under a broadcast build side
      val buildSides = plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          b.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft  => b.left
            case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
          }
      }
      assert(buildSides.nonEmpty, "hinted dimension broadcasts disappeared")
      assert(!buildSides.exists(s => s.toString.contains("orders") ||
        s.toString.contains("lineitem")),
        "a fact table is on a broadcast build side")
      assert(df.count() > 0)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("dynamic partition overwrite touches only the written partitions") {
    val t = freshTable("stg.part_orders")
    val d = "/root/testdata/sf0.001"
    val orders = Tables.orders(spark, d)
      .select($"o_orderkey", $"o_totalprice",
        date_format($"o_orderdate", "yyyy-MM").as("month"))
    Scale.writePartitioned(orders, t, "month")
    val before = spark.table(t).count()
    val months = spark.table(t).select($"month").distinct().count()
    // rewrite ONE month with halved prices
    val target = spark.table(t).select($"month").orderBy($"month").head().getString(0)
    val patch = orders.filter($"month" === target)
      .withColumn("o_totalprice", $"o_totalprice" * 0.5)
    Scale.overwritePartitions(spark, patch, t, "month")
    val after = spark.table(t)
    assert(after.count() === before) // no rows lost in sibling partitions
    assert(after.select($"month").distinct().count() === months)
    // the patched month is halved, another month untouched
    val origSum = orders.filter($"month" === target).agg(sum($"o_totalprice")).head().getDouble(0)
    val newSum = after.filter($"month" === target).agg(sum($"o_totalprice")).head().getDouble(0)
    assert(math.abs(newSum - origSum / 2) < 1e-6)
    // a month-filtered read must PRUNE partitions at plan time — the
    // filter reaches the scan's PartitionFilters, so a 100 TB table
    // reads one month's files, not all of them
    val pruned = after.filter($"month" === target)
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") && scan.contains(target),
      s"month filter did not reach PartitionFilters:\n$scan")
  }

  test("q198 bucketed join: no exchange on the join key") {
    // the driver oracle proves the VALUES; this gates the layout
    // claim — the bucketed round trip must join WITHOUT shuffling
    // either side on the join key (the post-aggregate band exchange
    // is expected and allowed)
    val df = Scale.q198BucketedJoin(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join shuffled a join side:\n$plan")
  }

  test("q193 partitioned read: scan prunes partitions AND columns") {
    // the driver oracle proves the VALUES round-trip; this gates the
    // plan shape the scaladoc claims — the month range reaches the
    // scan's PartitionFilters (listing-time pruning) and the
    // ReadSchema carries only the two aggregated data columns
    val df = Scale.q193PartitionedRead(spark, "/root/testdata/sf0.001")
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") && scan.contains("1995-01") &&
      scan.contains("1995-06"),
      s"month range did not reach PartitionFilters:\n$scan")
    assert(scan.contains("ReadSchema: struct<o_custkey:bigint,o_totalprice:double>"),
      s"read schema not pruned to the aggregated columns:\n$scan")
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions " +
    "at runtime") {
    val t = freshTable("stg.dpp_orders")
    val d = "/root/testdata/sf0.001"
    val orders = Tables.orders(spark, d)
      .select($"o_orderkey", $"o_totalprice",
        date_format($"o_orderdate", "yyyy-MM").as("month"))
    Scale.writePartitioned(orders, t, "month")
    // a month "dimension" with an attribute only the dim knows — the
    // star-schema case where static pruning is impossible: the fact
    // filter exists only AFTER the dim filter runs. DPP injects the
    // dim's surviving keys into the fact scan's PartitionFilters as a
    // runtime subquery, so the 100 TB fact reads only January files
    val dim = orders.select($"month").distinct()
      .withColumn("mm", substring($"month", 6, 2).cast("int"))
    val joined = spark.table(t).join(broadcast(dim.filter($"mm" === 1)), "month")
      .groupBy($"month").agg(count(lit(1)).as("n"))
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.toLowerCase.contains("dynamicpruning"),
      s"no dynamic-pruning subquery in the fact scan:\n$planStr")
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = orders.filter(substring($"month", 6, 2).cast("int") === 1)
      .groupBy($"month").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }

  test("bloom semi-join: pre-filter is invisible and stays broadcast when the build side can't be") {
    val d = "/root/testdata/sf0.001"
    // the rewrite must be semantically invisible vs the plain semi-join
    val li = graft.sources.Tables.lineitem(spark, d)
    val ords = graft.sources.Tables.orders(spark, d)
      .filter($"o_orderstatus" === "F" && $"o_totalprice" > 100000.0)
    val plain = li
      .join(ords.select($"o_orderkey"), $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bloom = graft.operators.Relational.q70BloomSemijoin(spark, d).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Long]("n_items")).toMap
    assert(bloom === plain)
    // 100× behavior: with auto-broadcast off (the build side too big to
    // broadcast), the BOUNDED bucket relation must still be broadcast —
    // that's the point of coarsening to ≤4096 rows — while the exact
    // semi-join becomes a shuffle join
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.operators.Relational.q70BloomSemijoin(spark, d)
        .queryExecution.executedPlan
      val planStr = plan.toString
      assert(planStr.contains("BroadcastHashJoin"),
        s"bucket pre-filter lost its broadcast:\n$planStr")
      assert(planStr.contains("SortMergeJoin") || planStr.contains("ShuffledHashJoin"),
        s"exact semi-join did not become a shuffle join:\n$planStr")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q104 hot/cold join: invisible rewrite, hot arm stays broadcast " +
    "when auto-broadcast is off") {
    val d = "/root/testdata/sf0.001"
    val li = graft.sources.Tables.lineitem(spark, d)
    val ords = graft.sources.Tables.orders(spark, d)
    val plain = li.join(ords, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        (sum(floor($"l_extendedprice" * 100.0 + 0.5)) / 100.0).as("revenue"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val split = graft.operators.Relational.q104HotColdJoin(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_lines"), r.getAs[Double]("revenue"))).toMap
    assert(split === plain)
    // 100× behavior: with auto-broadcast off (orders too big to
    // broadcast wholesale), the BOUNDED hot-key arm must still run as
    // broadcast joins — that is the point of the differentiation —
    // while the cold tail is a shuffle join
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val planStr = graft.operators.Relational.q104HotColdJoin(spark, d)
        .queryExecution.executedPlan.toString
      assert(planStr.contains("BroadcastHashJoin"),
        s"hot arm lost its broadcast:\n$planStr")
      assert(planStr.contains("SortMergeJoin") || planStr.contains("ShuffledHashJoin"),
        s"cold arm did not run as a shuffle join:\n$planStr")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q123 blocked ER: candidate join never broadcasts a registry side") {
    // both blocked sides are registry-sized; with auto-broadcast off
    // (the 100 TB condition) the candidate join must plan as a shuffle
    // join, and the levenshtein filter must sit BELOW the dedup
    // aggregation (map-side verify) — not above it
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = graft.operators.Relational
        .q123EntityResolution(spark, "/root/testdata/sf0.001")
        .queryExecution
      val planStr = qe.executedPlan.toString
      assert(planStr.contains("SortMergeJoin") ||
        planStr.contains("ShuffledHashJoin"),
        s"block join is not a shuffle join:\n$planStr")
      val opt = qe.optimizedPlan.toString
      // the dist<=1 predicate must appear under the Aggregate(distinct)
      val aggIdx = opt.indexOf("Aggregate")
      val levIdx = opt.indexOf("levenshtein")
      assert(aggIdx >= 0 && levIdx > aggIdx,
        s"levenshtein filter is not below the dedup aggregate:\n$opt")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q111 two-phase sweep: carry-in relation joins by broadcast") {
    val planStr = graft.operators.EventOps
      .q111Concurrency(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin"),
      s"bounded carry-in relation lost its broadcast:\n$planStr")
  }

  test("q126/q142 two-phase windows: row-grain windows are partitioned, " +
      "carry-in joins by broadcast") {
    // the r5 verdict's scale-killer class: a cumulative window with no
    // PARTITION BY runs the whole relation through one task. After the
    // two-phase rewrite, the only partition-less window allowed is the
    // bounded bucket/superbucket carry axis — the row-grain window must
    // carry a partition spec, and the carry relation must broadcast.
    Seq(
      // (query, bucket key, row key): the row-grain window must sort by
      // (bucket, row) — partitioned — not by the row key alone
      ("q126", "bkt", "doc_id", graft.operators.TextOps
        .q126CompactionPlan(spark, "/root/testdata/sf0.001")),
      ("q142", "sb", "bucket", graft.operators.TextOps
        .q142VocabGrowth(spark, "/root/testdata/sf0.001"))
    ).foreach { case (name, bucketKey, rowKey, df) =>
      val planStr = df.queryExecution.executedPlan.toString
      assert(planStr.contains("BroadcastHashJoin"),
        s"$name: bounded carry-in relation lost its broadcast:\n$planStr")
      val partitionedSort =
        (s"\\[$bucketKey#\\d+L? ASC NULLS FIRST, $rowKey#\\d+L? ASC").r
      assert(partitionedSort.findFirstIn(planStr).isDefined,
        s"$name: row-grain window is not partitioned by $bucketKey:\n$planStr")
    }
  }

  test("q156/q157 risk census: every window is partitioned by the series key, " +
      "no global exchange") {
    // the risk pair runs one running-max / one lag window per series —
    // if anyone un-partitions those windows (or adds a SinglePartition
    // exchange), the whole relation funnels through one task and the
    // operator dies at scale. The only exchanges allowed are the
    // l_suppkey hash shuffle the windows/aggregates share and the final
    // presentation sort's range partitioning. (For the degenerate
    // one-series corpus the running max would decompose two-phase —
    // max is associative — but the census is per-series by contract.)
    Seq(
      ("q156", graft.operators.EventOps
        .q156MaxDrawdown(spark, "/root/testdata/sf0.001")),
      ("q157", graft.operators.EventOps
        .q157Volatility(spark, "/root/testdata/sf0.001"))
    ).foreach { case (name, df) =>
      val planStr = df.queryExecution.executedPlan.toString
      val specs = "windowspecdefinition\\((\\w+)".r
        .findAllMatchIn(planStr).map(_.group(1)).toList
      assert(specs.nonEmpty, s"$name: expected a window in the plan:\n$planStr")
      assert(specs.forall(_.startsWith("l_suppkey")),
        s"$name: a window lost its l_suppkey partition spec: $specs\n$planStr")
      assert(!planStr.contains("SinglePartition"),
        s"$name: plan funnels through a single partition:\n$planStr")
      val hashKeys = "hashpartitioning\\((\\w+)".r
        .findAllMatchIn(planStr).map(_.group(1)).toList
      assert(hashKeys.forall(_.startsWith("l_suppkey")),
        s"$name: a shuffle is keyed off the series key: $hashKeys\n$planStr")
    }
  }

  test("q160 cross-modal dedup: the LSH is paid once, pairing stays equi-join") {
    // the embedding arm must probe exactly ONE relation — the standing
    // set semi-joined into embeddings — so the plan carries exactly one
    // Generate (the multiprobe explode). A second Generate means some
    // arm re-derived a probe/shingle pass; a nested-loop or cartesian
    // pairing means the bucket equi-join degenerated to all-pairs and
    // the operator dies at corpus scale.
    val planStr = graft.operators.TextOps
      .q160CrossModalDedup(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val generates = "Generate explode".r.findAllMatchIn(planStr).size
    assert(generates == 1,
      s"q160: expected exactly one multiprobe explode, found $generates:\n$planStr")
    assert(!planStr.contains("CartesianProduct") &&
      !planStr.contains("BroadcastNestedLoopJoin"),
      s"q160: embedding pairing degenerated to all-pairs:\n$planStr")
  }

  test("q161 semdedup: pairing is a capped cell equi-join, windows partitioned") {
    // the within-cluster quadratic must stay INSIDE each cell: the
    // member pairing has to plan as an equi-join keyed on the cell
    // (never a cartesian), the candidate side must carry the 512 cap,
    // and the rank window must be partitioned by cell_id — an
    // unpartitioned window or all-pairs join dies at corpus scale
    val qe = graft.operators.VectorOps
      .q161Semdedup(spark, "/root/testdata/sf0.001").queryExecution
    val planStr = qe.executedPlan.toString
    assert(!planStr.contains("CartesianProduct"),
      s"q161: member pairing degenerated to a cartesian:\n$planStr")
    assert(planStr.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
        l.contains("ccell")),
      s"q161: no cell-keyed equi-join for the member pairing:\n$planStr")
    assert("\\[cell_id#\\d+L? ASC NULLS FIRST, vec_id#\\d+L? ASC".r
      .findFirstIn(planStr).isDefined,
      s"q161: rank window is not partitioned by cell_id:\n$planStr")
    assert(qe.optimizedPlan.toString.contains("<= 512"),
      s"q161: candidate cap missing from the plan:\n${qe.optimizedPlan}")
    // the assignment subtree appears on both sides of the self-join —
    // the corpus must NOT be scanned/assigned twice at runtime: after
    // execution, AQE's exchange reuse must have deduplicated the
    // identical shuffle stages (this is the claim PLANS.md makes)
    val df2 = graft.operators.VectorOps
      .q161Semdedup(spark, "/root/testdata/sf0.001")
    df2.collect()
    val finalPlan = df2.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllMatchIn(finalPlan).nonEmpty,
      s"q161: AQE did not reuse the self-join's exchanges:\n$finalPlan")
  }

  test("q168 substr dedup: native gram expression, no token-grain shuffle or window") {
    // the gram stream must ride the native substr_gram_hashes
    // expression — the corpus is NEVER shuffled at token grain (no
    // lead window, no doc_id exchange of the token stream); the only
    // remaining window is the span-union lag over the REMOVED subset,
    // and it must be partitioned by doc_id
    val df = graft.operators.TextOps
      .q168SubstrDedup(spark, "/root/testdata/sf0.001")
    df.collect()
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("substr_gram_hashes"),
      s"q168: native gram expression missing from the plan:\n$planStr")
    assert(!planStr.contains("lead("),
      s"q168: declarative lead-window gram path leaked back in:\n$planStr")
    assert(!planStr.contains("CartesianProduct"),
      s"q168: removal join degenerated to a cartesian:\n$planStr")
    val windows = "windowspecdefinition\\(".r.findAllMatchIn(planStr).size
    val docWindows = "windowspecdefinition\\(doc_id".r.findAllMatchIn(planStr).size
    assert(windows == docWindows && docWindows >= 1,
      s"q168: expected only doc_id-partitioned windows " +
        s"(found $windows total, $docWindows doc-partitioned):\n$planStr")
  }

  test("every partition-less Window.orderBy site is registered with a bounded axis") {
    // the scale-killer class: a global window with no PARTITION BY runs
    // the whole relation through ONE task. The standing rule (audited
    // by hand in rounds 5–7) is that such windows may ride BOUNDED
    // axes only — histogram grids, superbuckets, day axes, tiny dims,
    // the source list. This ratchet turns that manual audit into a
    // gate: adding a Window.orderBy site fails here until it is
    // consciously registered below with its bounding argument.
    val allowed = Map(
      "ods/OdsBuild.scala" -> (1, "contract dim: tens of rows"),
      "operators/Relational.scala" -> (1, "histogram bucket axis (bounded grid)"),
      "operators/EventOps.scala" -> (2,
        "day axis (bounded calendar) / q223 reverse cumsum over the " +
          "bounded week axis"),
      "operators/TextOps.scala" -> (9,
        "quality grid / superbuckets / |sources| / quartile grid / " +
          "bucket grid / q208 skyline running-max over the ≤1e4 " +
          "quality-grid axis / q214 prefix sums over the bounded " +
          "logit-bucket axis / q230 pooled CDF over the clamped ≤1e4 " +
          "length grid / q236 cumulative negatives over the clamped " +
          "≤301-value logit-bucket axis"),
      "operators/StatsOps.scala" -> (3,
        "q234 pooled-rank CDF over the clamped ≤1e4 length grid / " +
          "q277 conformal calibration CDF over the loud-capped " +
          "centi-score grid / q285 Hamilton remainder rank over the " +
          "|sources| axis"),
      "stg/Normalizer.scala" -> (1,
        "reference-shaped CSV (single-file, thousands of rows by contract)"))
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val found = scala.collection.mutable.Map.empty[String, Int]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val n = "Window\\.orderBy".r
          .findAllMatchIn(new String(java.nio.file.Files.readAllBytes(p))).size
        if (n > 0) found(root.relativize(p).toString) = n
      }
    }
    assert(found.toMap === allowed.view.mapValues(_._1).toMap,
      s"global-window sites drifted from the registered allowlist " +
        s"(found $found): a NEW Window.orderBy must partition, or be " +
        "registered here with the axis that bounds it")
  }

  test("crossJoin and driver collect() sites stay inside their registered budgets") {
    // the other two audited scale-killer classes: a crossJoin that is
    // not against a broadcast metadata-sized relation is an all-pairs
    // bomb, and a .collect() in an operator is a driver-side loop.
    // Same ratchet as the window allowlist — drift fails until the new
    // site is argued and registered.
    def countSites(pattern: String): Map[String, Int] = {
      val root = java.nio.file.Paths.get("src/main/scala/graft")
      val found = scala.collection.mutable.Map.empty[String, Int]
      java.nio.file.Files.walk(root).forEach { p =>
        if (p.toString.endsWith(".scala")) {
          val n = pattern.r
            .findAllMatchIn(new String(java.nio.file.Files.readAllBytes(p))).size
          if (n > 0) found(root.relativize(p).toString) = n
        }
      }
      found.toMap
    }
    // every crossJoin is against a broadcast() 1-row aggregate or a
    // metadata-sized constant relation (centroids, codebooks, totals)
    val crossJoinBudget = Map(
      // +1 round 10: q216's 1-row trigram-total broadcast
      // +1 round 10: q219's 1-row arm-B aggregate broadcast
      // +1 round 10: q223's 1-row horizon broadcast
      // +2 round 11: q270's two 1-row broadcasts — the day-midpoint
      // cut and the (ta, tc) contingency totals
      // +1 round 12: q286's 1-row transition-total broadcast onto the
      // 1-row entropy-rate readout
      "operators/EventOps.scala" -> 13,
      // +1 round 10: q204's 1-row digit-total broadcast
      // +1 round 10: q211's 1-row exact-count broadcast beside the
      // 1-row estimate
      // +1 round 10: q232's 1-row basket-count broadcast
      // +1 round 10: q237's 1-row L1-total broadcast (one source site
      // inside normPpb, applied per half-step — q110 discipline)
      "operators/Relational.scala" -> 8,
      // round 10: q234's 1-row (N, tie-term) broadcast; q235's bounded
      // |langs|×|sources| marginal axis, 1-row total broadcast, and
      // 1-row top-cell broadcast onto the 1-row summary
      // +2 round 12: q277's 1-row calibration-total broadcast onto the
      // 3-row α spine and 1-row test-total broadcast onto the readout
      // +2 round 12: q285's 1-row (Σw, N) and leftover-seat broadcasts
      // onto the |sources|-row allocation axis
      "operators/StatsOps.scala" -> 8,
      // the +2 over round 7: q166's 1-row smoothing-totals broadcast,
      // in the query and in its lnBoundaryTerms hazard twin;
      // +2 round 9: q173's 1-row lnN and 1-row tertile-cut broadcasts;
      // +1 round 9: q180's 1-row (N, Σdl) corpus-stats broadcast;
      // +1 round 9: q184's 1-row winning-merge-pair broadcast;
      // +2 round 10: q191's per-iteration 1-row winner broadcast and
      // 1-row symbol-mass broadcast (both LIMIT-1/global-agg relations)
      // +2 round 10: q210's |langs|-row prior broadcast (class spine)
      // and 1-row global-total broadcast
      // +1 round 10: q230's 1-row pooled-total broadcast onto the
      // |sources|-row size relation
      // +2 round 10: q236's ≤301-row clamped score-histogram broadcast
      // against the 19-row threshold axis, and its 1-row
      // (npos, nneg, auc) broadcast onto the 19-row sweep
      // +1 round 10: q247's bounded 4×64 global-histogram broadcast
      // against the 4-row fold axis (histogram-subtraction CV)
      // +1 round 10: q253's 1-row global-totals broadcast onto the
      // |sources|-row ablation relation (TextOps.scala:6654)
      // +1 round 10: q258's 1-row Moore-Lewis denominators broadcast
      // (in-domain/general token totals, TextOps.scala:6932)
      // +1 round 10: q259's 1-row guarded grand-total broadcast onto
      // the bounded |sources|×|buckets| JSD axis (TextOps.scala:7044)
      // +2 round 11: q263's two 1-row broadcasts — the ln(N) grid
      // constant onto the |sources|-row surprisal relation, and the
      // (k, mean, normalizer) totals row for the MW weight step
      // +1 round 12: q275's 1-row ingest-cut broadcast onto the census
      // aggregate (the delta/index boundary as a scalar join)
      // +1 round 12: q278's 1-row bigram-type-total broadcast onto the
      // bigram-type-grain KN relation
      // +2 round 12: q281's 1-row node-count broadcast — the q110
      // teleport constant, one site in r0 and one inside the fold
      // +4 round 12: q283's broadcasts — 1-row vocab + 1-row train
      // total onto the |langs| model spine, the |langs|-row spine onto
      // the test docs, and the hazard twin's 1-row vocab
      // +1 round 12: q284's 1-row universe total onto the per-round
      // coverage census
      "operators/TextOps.scala" -> 39,
      // +1 round 10: q220's NumCells-row centroid broadcast
      // +1 round 10: q244's per-iteration 1-row L∞-norm broadcast
      // (one source site inside the fold)
      // +1 round 10: q248's per-round 1-row newest-center broadcast
      // (one source site inside the fold)
      "operators/VectorOps.scala" -> 8)
    assert(countSites("crossJoin") === crossJoinBudget,
      s"crossJoin sites drifted (found ${countSites("crossJoin")}): " +
        "argue the new site is broadcast metadata-sized, then register it")
    // collect() only at the 1-row staging metadata lookup and Verify's
    // human diagnostics — never in an operator's data path
    val collectBudget = Map(
      "Verify.scala" -> 2,
      "stg/Staging.scala" -> 1,
      // q287's |types|-row sequential-test state readout inside the
      // foreachBatch sink — bounded by the event-type axis
      // +1 round 13: sprtStream's restart-restore of the SAME
      // |types|-row state snapshot (one read at query start, never
      // per-batch, never data-grain)
      "streaming/EventStream.scala" -> 2)
    assert(countSites("\\.collect\\(\\)") === collectBudget,
      s"driver collect() sites drifted (found ${countSites("\\.collect\\(\\)")}): " +
        "an operator must not loop driver-side; register only metadata lookups")
    // memory sinks materialize their whole output table ON THE DRIVER —
    // the round-8 q165 escape route around the collect() ratchet. Only
    // streams whose output is a bounded-cardinality AGGREGATE may use
    // one (tumbling, sliding, 1-row dedup count, segment×type enrich,
    // q187's bar-grain OHLC); any row-grain stream must drain via
    // drainToParquet (foreachBatch → executor-side parquet appends)
    // instead
    // (+1 round 11: q264's (day, user)-grain heavy-hitter aggregate —
    // bounded by |windows|×|active users|, the q172 class)
    val memorySinkBudget = Map(
      "streaming/EventStream.scala" -> 6)
    assert(countSites("format\\(\"memory\"\\)") === memorySinkBudget,
      s"memory-sink sites drifted (found ${countSites("format\\(\"memory\"\\)")}): " +
        "a memory sink is a driver materialization — only bounded " +
        "aggregate outputs may use one; row-grain streams drain via " +
        "drainToParquet")
    // collect_list/collect_set materialize a whole GROUP in one
    // aggregation buffer — unbounded per hot key unless the input is
    // capped first. Every registered site carries a bound: TextOps =
    // per-doc shingle set ×2 + TopKPerKey-capped source sketch +
    // q170's per-doc removed-span starts (gram-count bound, the
    // shingleArrays class) + q182's posting sample (row_number-capped
    // to 5 rows per term BEFORE the aggregation); EventOps = user-day
    // basket + per-user journey (documented history bound); VectorOps
    // = per-dim grid (|dims| rows); Relational = 5-value segment set +
    // 64-bucket recency vector
    // (+1 round 10: q199's per-chunk token list — bounded by the CDC
    // chunk size, geometric with mean 1/p = 32 tokens, content-keyed)
    // (+2 round 16, both in Relational: basketPairs' per-order distinct
    // part set — ≤ CoBasketCap, enforced by raise_error on the SAME
    // aggregated array before any pair is built; trianglesStaged's
    // per-node out-neighbor list under degree orientation — |N⁺(u)| is
    // O(√E) by the compact-forward argument, max 97 at sf0.1)
    val collectAggBudget = Map(
      "operators/TextOps.scala" -> 6,
      "operators/EventOps.scala" -> 2,
      "operators/VectorOps.scala" -> 1,
      "operators/Relational.scala" -> 4)
    assert(countSites("collect_(list|set)\\(") === collectAggBudget,
      s"collect_list/collect_set sites drifted " +
        s"(found ${countSites("collect_(list|set)\\(")}): argue the new " +
        "site's per-key bound (cap BEFORE the aggregation), then register it")
  }

  test("q162 shared passages: native fp arrays, no char-grain explode or window") {
    // the census must ride the single-pass WinnowFps expression: one
    // Generate (exploding the ~len/w selected prints), NO Window — a
    // Window means the char-grain declarative path leaked in, which
    // inflates every document to one row per character at corpus scale
    val planStr = graft.operators.TextOps
      .q162SharedPassages(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val generates = "Generate explode".r.findAllMatchIn(planStr).size
    assert(generates == 1,
      s"q162: expected exactly one fp explode, found $generates:\n$planStr")
    assert(!planStr.contains("Window"),
      s"q162: char-grain window path leaked into the census plan:\n$planStr")
    assert(planStr.contains("winnow_fps"),
      s"q162: native WinnowFps expression missing from the plan:\n$planStr")
  }

  test("q167 split: both windows share one stratum exchange") {
    // the rank window and the stratum-size window must ride the SAME
    // hash(source) exchange — a second hash exchange means the count
    // became its own pass; an unpartitioned window dies at scale
    val planStr = graft.operators.TextOps
      .q167SplitAssign(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllMatchIn(planStr).size
    assert(hashEx == 1,
      s"q167: expected one stratum hash exchange, found $hashEx:\n$planStr")
    assert("Window \\[".r.findAllMatchIn(planStr).size == 2,
      s"q167: expected two window nodes over the shared exchange:\n$planStr")
  }

  test("q129 budget cut: exactly one corpus-grain pass after the cutoff") {
    // the quality histogram + cutoff must come from aggregations; the
    // selection pass joins a 1-row broadcast — no corpus self-join, no
    // row-grain window
    val planStr = graft.operators.TextOps
      .q129BudgetCuration(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastNestedLoopJoin") ||
      planStr.contains("BroadcastHashJoin"),
      s"cutoff scalar is not broadcast:\n$planStr")
    assert(!planStr.contains("SortMergeJoin"),
      s"budget curation grew a corpus-grain shuffle join:\n$planStr")
  }
}
