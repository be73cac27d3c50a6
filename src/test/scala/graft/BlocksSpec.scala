package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational, TextOps}
import graft.util.Blocks

/** Block release: [[Blocks]] itself, and the iterative operators that
  * free each dead generation through it. Every check reads the
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

  test("boruvkaTrace leaves no block behind and computes no cached partition twice") {
    // EngineSpec's hand-solved 5-node graph, and its wide-arm replay
    // with every id past the 21-bit narrow-pack ceiling
    val edges = Seq(
      (1L, 2L, 5L), (2L, 3L, 1L), (3L, 4L, 2L),
      (1L, 3L, 4L), (4L, 5L, 10L), (1L, 5L, 3L))
      .toDF("pa", "pb", "w")
    val off = (1L << 33) + 12345L
    val wide = edges.select(
      ($"pa" + off).as("pa"), ($"pb" + off).as("pb"), $"w")
    noReadds(Seq(edges, wide).foreach { g: DataFrame =>
      val (out, left) = leftBy(Relational.boruvkaTrace(g))
      assert(left.isEmpty, s"boruvkaTrace left rdds $left behind")
      assert(out.filter($"metric" === "r3_mst_weight")
        .select($"value").as[Long].head() === 10L)
    })
  }

  test("kTrussTrace leaves no block behind and computes no cached partition twice") {
    // EngineSpec's crafted K4 + weak triangle + bridge: the peel keeps
    // the K4's 6 edges
    val k4 = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)).toDF("pa", "pb")
    noReadds {
      val (out, left) = leftBy(Relational.kTrussTrace(k4, 2L))
      assert(left.isEmpty, s"kTrussTrace left rdds $left behind")
      assert(out.filter($"metric" === "r3_edges")
        .select($"value").as[Long].head() === 6L)
    }
  }
}
