package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** The one run harness: every main and every spec builds its session
  * here, so a tool measures the same configuration and plan that
  * `graft.Bench` runs. Bench and Probe attach the same [[Recorder]],
  * and read it after [[drain]] instead of guessing how long the async
  * listener bus takes. */
object Harness {

  /** Cores for a main: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** `local[cores]` with one shuffle partition per core, AQE on
    * (Spark 4's default, pinned so a changed default cannot move the
    * plans), UTC session time, no UI, one warehouse directory. Returns
    * the live session if one exists (its static confs win). */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Attach a fresh [[Recorder]] to the session's listener bus. */
  def record(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    r
  }

  /** Block until every listener event posted so far has been delivered,
    * so a [[Recorder]] read next is complete. */
  def drain(sc: SparkContext): Unit = Bridge.drainListenerBus(sc)

  /** Each job's wall time and description, and each RDD block's
    * memory/disk high-water (`rdd_<rdd>_<partition>` → (mem, disk)
    * bytes). Filled asynchronously — read after [[drain]]. */
  final class Recorder extends SparkListener {
    val blockHw = TrieMap.empty[String, (Long, Long)]
    val jobMs = TrieMap.empty[Int, Long]
    val jobDesc = TrieMap.empty[Int, String]
    private val jobStart = TrieMap.empty[Int, Long]

    def clear(): Unit = {
      blockHw.clear(); jobMs.clear(); jobDesc.clear(); jobStart.clear()
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val u = e.blockUpdatedInfo
      val id = u.blockId.name
      if (id.startsWith("rdd_")) {
        val prev = blockHw.getOrElse(id, (0L, 0L))
        blockHw(id) =
          (math.max(prev._1, u.memSize), math.max(prev._2, u.diskSize))
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart(e.jobId) = e.time
      // name the job so a whale is identifiable: prefer the SQL-action
      // description, fall back to the last stage's callsite (e.g.
      // "count at Relational.scala:2603")
      val d = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(e.stageInfos.lastOption.map(_.name))
        .getOrElse("")
      jobDesc(e.jobId) = d.linesIterator.take(1).mkString.take(90)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.get(e.jobId).foreach(t0 => jobMs(e.jobId) = e.time - t0)
  }
}
