package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation,
  InMemoryTableScanExec}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational, TextOps, VectorOps}
import graft.util.Blocks

/** Walks a physical plan through AQE wrappers and query stages. */
private object AqePlans extends AdaptiveSparkPlanHelper

/** Block release: [[Blocks]] itself, and the iterative operators that
  * fill and free each generation through it. Every check reads the
  * context's persistent-RDD set, which holds both `persist()` caches
  * and eager checkpoint block sets. */
class BlocksSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Harness.session(4)
  import spark.implicits._

  private def rddIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `body`'s value and the persistent RDDs it left behind. */
  private def leftBy[T](body: => T): (T, Set[Int]) = {
    val before = rddIds
    val value = body
    (value, rddIds -- before)
  }

  test("release frees a checkpointed frame and a persisted one") {
    val (ckpt, ckptIds) =
      leftBy(spark.range(0, 101).toDF("ck").localCheckpoint(true))
    assert(ckptIds.size === 1)
    // the premise: Dataset.unpersist cannot reach a checkpoint's blocks
    ckpt.unpersist(blocking = true)
    assert(ckptIds.subsetOf(rddIds), "unpersist freed a checkpoint")
    val (cached, cachedIds) = leftBy {
      val df = spark.range(0, 103).toDF("pe").persist()
      df.count()
      df
    }
    assert(cachedIds.size === 1)
    assert(cached.storageLevel !== StorageLevel.NONE)
    Blocks.release(ckpt, null, cached)
    assert((rddIds & (ckptIds ++ cachedIds)).isEmpty,
      s"still persistent: ${rddIds & (ckptIds ++ cachedIds)}")
    assert(cached.storageLevel === StorageLevel.NONE)
  }

  test("scope returns the body's value, frees what the body created, and rethrows") {
    val (outside, outsideIds) =
      leftBy(spark.range(0, 107).toDF("out").localCheckpoint(true))
    val before = rddIds
    // held outside the body, so the ContextCleaner cannot free them
    // first and make the check vacuous
    var inner = Seq.empty[DataFrame]
    val (value, released) = Blocks.scope(spark) {
      val p = spark.range(0, 113).toDF("inp").persist()
      p.count()
      inner = Seq(spark.range(0, 109).toDF("in").localCheckpoint(true), p)
      42
    }
    assert(value === 42)
    // the persisted frame goes through clearCache; only the checkpoint
    // is left for the unpersist pass to count
    assert(released === 1)
    assert((rddIds -- before).isEmpty, s"left behind: ${rddIds -- before}")
    assert(outsideIds.subsetOf(rddIds), "scope freed a block it did not create")
    val beforeThrow = rddIds
    val e = intercept[IllegalStateException] {
      Blocks.scope(spark) {
        inner = Seq(spark.range(0, 127).toDF("thrown").localCheckpoint(true))
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert((rddIds -- beforeThrow).isEmpty,
      s"left behind after a throw: ${rddIds -- beforeThrow}")
    Blocks.release(outside)
  }

  test("dedupClusters leaves only its result's checkpoint behind") {
    // EngineSpec's crafted pair graph: a diameter-3 chain, a triangle
    // with a redundant edge, an isolated pair
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("d1", "d2")
    val (out, left) = leftBy(TextOps.dedupClusters(edges))
    assert(left.size === 1,
      s"expected only the result's checkpoint, found rdds $left")
    assert(out.count() === 9)
    Blocks.release(out)
    assert((rddIds & left).isEmpty, "the one survivor was not the result")
  }

  /** Runs `body` and asserts no task stored a cached partition that
    * another task had already computed: the BlockManager logs such a
    * block and drops it. */
  private def noReadds(body: => Unit): Unit = {
    val readds = new AtomicInteger
    val appender = new AbstractAppender("readds", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("not re-adding"))
          readds.incrementAndGet()
    }
    val logger = LogManager.getLogger("org.apache.spark.storage.BlockManager")
      .asInstanceOf[CoreLogger]
    appender.start()
    logger.addAppender(appender)
    try body
    finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    assert(readds.get === 0, "a cached partition was computed twice")
  }

  /** Runs `body` with an optimizer rule that sees every plan the
    * session optimizes, before it runs, and returns the caches some
    * plan reads unfilled through more than one scan. A scan of an
    * unfilled cache runs the plan that fills it, so that plan's scans
    * count too. Two scans of one unfilled cache in one action can
    * compute the same partition twice: two concurrent AQE stages both
    * find it missing. */
  private def unfilledRereads[T](body: => T): (T, Seq[String]) = {
    val found = new java.util.IdentityHashMap[AnyRef, String]
    val check = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        val scans = new java.util.IdentityHashMap[AnyRef, Integer]
        val names = new java.util.IdentityHashMap[AnyRef, String]
        def visit(r: InMemoryRelation): Unit = {
          val b = r.cacheBuilder
          if (!b.isCachedColumnBuffersLoaded) {
            scans.put(b, scans.getOrDefault(b, 0) + 1)
            names.put(b, b.logicalPlan.nodeName)
            AqePlans.collectWithSubqueries(b.cachedPlan) {
              case s: InMemoryTableScanExec => s.relation
            }.foreach(visit)
          }
        }
        plan.collectWithSubqueries { case r: InMemoryRelation => r }
          .foreach(visit)
        found.synchronized {
          scans.forEach { (b, n) =>
            if (n > 1) found.put(b, s"${names.get(b)} ${n}x")
          }
        }
        plan
      }
    }
    val prior = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prior :+ check
    try {
      val value = body
      (value, found.synchronized(found.values.asScala.toSeq))
    } finally spark.experimental.extraOptimizations = prior
  }

  // Crafted inputs, from EngineSpec's hand-traced cases
  private lazy val pathAndTriangle = Seq((1L, 2L), (2L, 3L), (1L, 3L),
    (3L, 4L), (11L, 12L), (12L, 13L), (13L, 14L)).toDF("pa", "pb")
  private lazy val starAndPath = Seq((1L, 2L), (1L, 3L), (1L, 4L),
    (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)).toDF("pa", "pb")
  // seed 10 reaches 1, 2, 3 within the 3-round cap; 4, 5, 6 stay out
  private lazy val pathAndPair = Seq((10L, 1L), (1L, 2L), (2L, 3L),
    (3L, 4L), (5L, 6L)).toDF("pa", "pb")
  private lazy val compass = Seq(
    (0L, Array(1f, 0f)), (1L, Array(0f, 1f)), (2L, Array(-1f, 0f)),
    (3L, Array(0f, -1f)), (4L, Array(1f, 0f))).toDF("vec_id", "embedding")
  // K4 + weak triangle + bridge: the peel keeps the K4's 6 edges
  private lazy val k4 = Seq(
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
    (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)).toDF("pa", "pb")
  // ratings (c, p, r): two users, two items, four ratings
  private lazy val ratings = Seq((1L, 10L, 3L), (1L, 11L, 1L),
    (2L, 10L, 2L), (2L, 11L, 5L)).toDF("c", "p", "r")
  // a nested bipartite purchase graph (c, p): part 101 has the most
  // buyers, so it leads the authorities
  private lazy val buyers = Seq((1L, 101L), (1L, 102L), (1L, 103L),
    (2L, 101L), (2L, 102L), (3L, 101L)).toDF("c", "p")
  // chain 1-2-3 and pair 4-5 spread labels 0 and 1; node 6 hears a
  // tie, adopts 0 against its truth 7, so round 2 has one correct
  private lazy val (lpAdj, lpTruth) = {
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (2L, 6L), (5L, 6L))
    ((pairs ++ pairs.map(_.swap)).toDF("v", "n"),
      Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L), (6L, 7L))
        .toDF("vec_id", "tl"))
  }
  // EngineSpec's set-cover corpus: doc 10 covers 5 shingles, doc 20's
  // 3 are a subset of them, doc 30 adds the 2 that round 2 picks
  private lazy val coverDocs = Seq(
    (10L, "s1 s2 s3 s4 s5 s6 s7"), (20L, "s1 s2 s3 s4 s5"),
    (30L, "t1 t2 t3 t4"), (40L, "u1 u2 u3"), (50L, "v1 v2 v3"))
    .toDF("doc_id", "text")
  // a 3×3 upper-triangular gram whose coupled dims 0/1 dominate: dim 0
  // leads every iterate, so it normalizes to 10⁶ ppm
  private lazy val gram = Seq((0, 0, 4000000L), (0, 1, 1000000L),
    (0, 2, 0L), (1, 1, 3000000L), (1, 2, 0L), (2, 2, 1000000L))
    .toDF("i", "j", "gram_micro")
  // a hand-solved 5-node graph; `boruvka` replays it with every id
  // past the 21-bit narrow-pack ceiling
  private lazy val mstGraph = Seq(
    (1L, 2L, 5L), (2L, 3L, 1L), (3L, 4L, 2L),
    (1L, 3L, 4L), (4L, 5L, 10L), (1L, 5L, 3L)).toDF("pa", "pb", "w")

  /** A named operator run and the check of its hand-traced figure. */
  private type Case = (String, () => Array[Row], Array[Row] => Unit)

  private def metric(rows: Array[Row], name: String): Long =
    rows.find(_.getString(0) == name).get.getLong(1)

  /** Iterative operators on crafted inputs, each with one figure of its
    * hand-traced result, and the queries whose caches are filled
    * without a generation loop, at sf0.001 inside a query scope. */
  private lazy val iterative: Seq[Case] = {
    val off = (1L << 41) + 5L
    val sf = "/root/testdata/sf0.001"
    def query(q: (SparkSession, String) => DataFrame): () => Array[Row] =
      () => Blocks.scope(spark)(q(spark, sf).collect())._1
    Seq(
      ("kCoreTrace", () => Relational.kCoreTrace(pathAndTriangle, 2L).collect(),
        rows => assert(metric(rows, "r2_nodes") === 3L)),
      ("bfsTrace", () => Relational.bfsTrace(pathAndPair, 10L).collect(),
        rows => assert(metric(rows, "unreached") === 3L)),
      ("ccTrace", () => Relational.ccTrace(starAndPath).collect(),
        rows => assert(metric(rows, "r2_changed") === 3L)),
      ("kCenter", () => VectorOps.kCenter(compass).collect(),
        rows => assert(rows.map(_.getLong(1)).toSeq === Seq(0L, 2L, 1L, 3L))),
      ("kCenter, wide ids", () => VectorOps.kCenter(
          compass.select(($"vec_id" + off).as("vec_id"), $"embedding")).collect(),
        rows => assert(rows.map(_.getLong(1)).toSeq ===
          Seq(0L, 2L, 1L, 3L).map(_ + off))),
      ("alsStep", () => Relational.alsStep(ratings).collect(),
        rows => assert(metric(rows, "n_ratings") === 4L)),
      ("hits", () => Relational.hits(buyers).collect(),
        rows => assert(rows.head.getLong(1) === 101L)),
      ("labelPropRounds", () => VectorOps.labelPropRounds(lpAdj, lpTruth,
          Seq((1L, 0L), (4L, 1L)).toDF("vec_id", "lab")).collect(),
        rows => assert(metric(rows, "r2_correct") === 1L)),
      ("setCoverTrace", () => TextOps.setCoverTrace(coverDocs).collect(),
        rows => assert(metric(rows, "r2_doc") === 30L)),
      ("powerIteration", () => VectorOps.powerIteration(gram).collect(),
        rows => assert(rows.find(_.getLong(0) == 0L).get.getLong(1) ===
          1000000L)),
      ("q221DensityClusters", query(VectorOps.q221DensityClusters),
        rows => assert(rows.nonEmpty)),
      ("q243LabelProp", query(VectorOps.q243LabelProp),
        rows => assert(rows.nonEmpty)))
  }

  /** boruvkaTrace on the 5-node graph and its wide-id replay. */
  private lazy val boruvka: Seq[Case] = {
    val wideMst = (1L << 33) + 12345L
    Seq(
      ("boruvkaTrace", () => Relational.boruvkaTrace(mstGraph).collect(),
        rows => assert(metric(rows, "r3_mst_weight") === 10L)),
      ("boruvkaTrace, wide ids", () => Relational.boruvkaTrace(mstGraph
          .select(($"pa" + wideMst).as("pa"), ($"pb" + wideMst).as("pb"),
            $"w")).collect(),
        rows => assert(metric(rows, "r3_mst_weight") === 10L)))
  }

  private lazy val kTruss: Seq[Case] = Seq(
    ("kTrussTrace", () => Relational.kTrussTrace(k4, 2L).collect(),
      rows => assert(metric(rows, "r3_edges") === 6L)))

  /** Runs each case, checks its figure, and returns one line per case
    * that read an unfilled cache through two scans or left a block. */
  private def fillProblems(cases: Seq[Case]): Seq[String] =
    cases.flatMap { case (name, run, check) =>
      val ((out, left), rereads) = unfilledRereads(leftBy(run()))
      check(out)
      val reread = if (rereads.isEmpty) Nil else Seq(
        s"$name reads ${rereads.size} unfilled caches through more " +
          s"than one scan: ${rereads.mkString(", ")}")
      reread ++ (if (left.isEmpty) Nil else Seq(s"$name left rdds $left behind"))
    }

  test("iterative operators fill each cache before two scans read it, " +
      "free every generation, and compute no cached partition twice") {
    noReadds {
      val problems = fillProblems(iterative)
      assert(problems.isEmpty, problems.mkString("\n"))
    }
  }

  test("boruvkaTrace leaves no block behind and computes no cached partition twice") {
    noReadds {
      val problems = fillProblems(boruvka)
      assert(problems.isEmpty, problems.mkString("\n"))
    }
  }

  test("kTrussTrace leaves no block behind and computes no cached partition twice") {
    noReadds {
      val problems = fillProblems(kTruss)
      assert(problems.isEmpty, problems.mkString("\n"))
    }
  }
}
