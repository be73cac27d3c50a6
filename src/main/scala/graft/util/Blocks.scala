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
