package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The run harness every main and spec shares: the session it builds,
  * and a recorder that is complete as soon as the listener bus drains. */
class HarnessSpec extends AnyFunSuite {

  test("session(n): local[n], n shuffle partitions, AQE on, UTC, UI off") {
    // a live session would be returned as-is, so build from scratch
    SparkSession.getDefaultSession.foreach(_.stop())
    val spark = Harness.session(3)
    try {
      assert(spark.sparkContext.master === "local[3]")
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "3")
      assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
      assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
      assert(spark.sparkContext.uiWebUrl.isEmpty)
    } finally spark.stop()
  }

  test("drain: the recorder holds a persisted frame's block high-water once drain returns") {
    val spark = Harness.session(4)
    // a listener ahead of the recorder holds every block update back,
    // so a read that does not wait for the bus finds the recorder empty
    val slow = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        Thread.sleep(200)
    }
    spark.sparkContext.addSparkListener(slow)
    val rec = Harness.record(spark)
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val df = spark.range(0, 1000).toDF("id").persist()
      df.count()
      val ids = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(ids.size === 1)
      Harness.drain(spark.sparkContext)
      val blocks = rec.blockHw.filter(_._1.startsWith(s"rdd_${ids.head}_"))
      assert(blocks.nonEmpty, s"no block updates for rdd ${ids.head}")
      assert(blocks.values.map(_._1).sum > 0)
      assert(rec.jobMs.nonEmpty)
      df.unpersist()
    } finally {
      spark.sparkContext.removeSparkListener(slow)
      spark.sparkContext.removeSparkListener(rec)
    }
  }
}
