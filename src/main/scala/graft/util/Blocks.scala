package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one way to free a frame's cached blocks.
  *
  * An eager `localCheckpoint` returns a frame whose analyzed plan is a
  * `LogicalRDD` over a persisted RDD the CacheManager never saw, so
  * `Dataset.unpersist()` on it frees nothing. Any other frame is freed
  * through the CacheManager: a raw `rdd.unpersist` of a cache-managed
  * RDD leaves a stale entry whose storage level is NONE, and every later
  * identical `persist()` then recomputes per reference without caching
  * (measured: q221 5.2 → 15.1 s, q284 6.3 → 18.4 s).
  */
object Blocks {

  /** Free each frame's blocks; `null` entries are skipped. */
  def release(frames: DataFrame*): Unit = frames.foreach {
    case null => ()
    case df => df.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => df.unpersist()
    }
  }

  /** Run an iterative operator's rounds over one [[Generations]] and
    * free every frame persisted or checkpointed there on exit, also
    * when `body` throws. */
  def generations[T](body: Generations => T): T = {
    val gens = new Generations
    try body(gens) finally gens.close()
  }

  /** One iterative loop's generations. A round persists its relations
    * with [[keep]] and runs its census through [[fill]], the one action
    * that fills them; it must read each kept frame through a single
    * scan (two scans of an unfilled cache in one action may compute a
    * partition twice). Only then is the superseded generation freed:
    * the CacheManager re-plans every dependent cache not yet filled.
    * [[pin]] holds a loop-invariant frame until the loop exits.
    * Frames are freed as persisted, never through a projection.
    *
    * A generation truncates where a round relation's lineage would
    * otherwise grow with the round count: [[checkpoint]] materializes
    * the frame eagerly and cuts its lineage, and is otherwise freed like
    * a kept frame. A kept frame's logical plan embeds the previous
    * round's, so a loop of up to 20 rounds whose input is itself a deep
    * derivation doubles its plan per round (q221's ε-pair graph into
    * `dedupClusters` ran the driver out of memory building one plan
    * string), and a relation two consumers read per round is read
    * faster off checkpoint blocks (Borůvka's candidates at sf0.1:
    * 8.5 s against 10.3–12.4 s with lazy caches). */
  final class Generations private[Blocks] () {
    private var pinned = Vector.empty[DataFrame]
    private var live = Vector.empty[DataFrame]
    private var kept = Vector.empty[DataFrame]

    def keep(df: DataFrame,
        level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
      val p = df.persist(level); kept :+= p; p
    }

    /** Eager `localCheckpoint` at `level`: the returned frame is
      * filled already and belongs to the current generation. */
    def checkpoint(df: DataFrame,
        level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
      val c = df.localCheckpoint(true, level); kept :+= c; c
    }

    /** Hold `df` until the loop exits: persisted, or, if it is this
      * loop's own [[checkpoint]], moved out of its generation. */
    def pin(df: DataFrame): DataFrame = {
      val own = kept.exists(_ eq df)
      val p = if (own) df else df.persist()
      kept = kept.filterNot(_ eq df); pinned :+= p; p
    }

    /** Run `census` (job description `what`) as the action that fills
      * the kept frames, then free the generation they supersede. */
    def fill[T](what: String)(census: => T): T = {
      val sc = SparkSession.active.sparkContext
      val label = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(what)
      val value = try census finally sc.setJobDescription(label)
      release(live: _*)
      live = kept
      kept = Vector.empty
      value
    }

    private[Blocks] def close(): Unit = release(pinned ++ live ++ kept: _*)
  }

  /** Run `body`, then, also when it throws, drop every Dataset cache
    * and unpersist every RDD that `body` created and `clearCache` did
    * not reach (the checkpoints). Returns the body's value and the
    * count of RDDs so unpersisted. `clearCache` is session-wide, so
    * only a per-query loop may call this, never an operator. */
  def scope[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    var released = 0
    val value =
      try body
      finally {
        spark.catalog.clearCache()
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before.contains(id)) {
            rdd.unpersist(blocking = false); released += 1
          }
        }
      }
    (value, released)
  }
}
