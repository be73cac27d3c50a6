package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

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

  /** Free each frame's blocks; `null` entries (a loop generation not
    * yet assigned) are skipped. */
  def release(frames: DataFrame*): Unit = frames.foreach {
    case null => ()
    case df => df.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => df.unpersist()
    }
  }

  /** Run an iterative operator's rounds over one [[Generations]] and
    * free every frame persisted there on exit, also when `body` throws. */
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
    * [[pin]] persists a loop-invariant frame until the loop exits.
    * Frames are freed as persisted, never through a projection. */
  final class Generations private[Blocks] () {
    private var pinned = Vector.empty[DataFrame]
    private var live = Vector.empty[DataFrame]
    private var kept = Vector.empty[DataFrame]

    def keep(df: DataFrame): DataFrame = {
      val p = df.persist(); kept :+= p; p
    }

    def pin(df: DataFrame): DataFrame = {
      val p = df.persist(); pinned :+= p; p
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
