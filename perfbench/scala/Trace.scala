package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One layer call. `op` is the id of the timed operation it belongs to;
  * `parent` is -1 for the operation's root span. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    op: Int, startNs: Long, startMs: Long, gcStartMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  var gcEndMs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class TaskRec(job: Int, launchMs: Long, finishMs: Long,
    runMs: Long, failed: Boolean, shuffleBytes: Long, spillBytes: Long,
    peakExec: Long, outBytes: Long, outRecords: Long)

/** Spark's own counters, read through a listener the benchmark
  * registers: jobs with their job group, finished tasks with their
  * metrics, and the high-water of cached RDD blocks. Read only after
  * [[org.apache.spark.graftbench.BusDrain]] has emptied the bus. */
final class SparkCounters extends SparkListener {
  val jobs = mutable.ArrayBuffer[(Int, Long, String)]()
  val tasks = mutable.ArrayBuffer[TaskRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val blocks = mutable.HashMap[String, Long]()
  private var blockTotal = 0L
  private var blockPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs += ((e.jobId, e.time, group))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def get(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    tasks += TaskRec(stageJob.getOrElse(e.stageId, -1), i.launchTime, i.finishTime,
      get(_.executorRunTime), i.failed,
      get(_.shuffleWriteMetrics.bytesWritten),
      get(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      get(_.peakExecutionMemory),
      get(_.outputMetrics.bytesWritten), get(_.outputMetrics.recordsWritten))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val u = e.blockUpdatedInfo
    val id = u.blockId.name
    if (id.startsWith("rdd_")) {
      val size = if (u.storageLevel.isValid) u.memSize + u.diskSize else 0L
      blockTotal += size - blocks.getOrElse(id, 0L)
      if (size == 0L) blocks.remove(id) else blocks(id) = size
      blockPeak = math.max(blockPeak, blockTotal)
    }
  }

  /** Start a new block high-water window at the current level. */
  def resetBlockPeak(): Unit = synchronized { blockPeak = blockTotal }
  def blockPeakBytes: Long = synchronized(blockPeak)
}

/** Spark counters summed over a set of jobs within a wall interval. */
final case class SparkStats(jobs: Int, tasks: Int, failedTasks: Int,
    runMs: Long, shuffleBytes: Long, spillBytes: Long, peakExecBytes: Long,
    outBytes: Long, outRecords: Long, busyMs: Long) {
  def busyRatio(wallS: Double, cores: Int): Double =
    if (wallS <= 0) 0.0 else runMs / 1000.0 / (wallS * cores)
  def idleS(wallS: Double): Double = math.max(0.0, wallS - busyMs / 1000.0)
}

/** Spans around the benchmark's calls into each layer. In an untraced
  * operation a span only times its body. In a traced one it is recorded,
  * labels the Spark jobs it starts with its own job group, and the
  * listener is attached for the operation's duration only. Spans stay in
  * memory until [[write]] at the end of the run. */
final class Tracer(sc: SparkContext, val cores: Int) {
  val spans = mutable.ArrayBuffer[Span]()
  val counters = new SparkCounters
  private var stack = List.empty[Span]
  private var opId = 0
  private var on = false
  /** Cached-block high-water per traced operation id. */
  val opBlockPeak = mutable.HashMap[Int, Long]()

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  def currentOp: Int = opId

  /** Run one operation; traced when `traced`. Returns its wall seconds. */
  def op(name: String, traced: Boolean)(body: => Unit): Double = {
    opId += 1
    if (!traced) {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    } else {
      sc.addSparkListener(counters)
      counters.resetBlockPeak()
      on = true
      val root = spans.size
      try span(name, "op")(body)
      finally {
        on = false
        org.apache.spark.graftbench.BusDrain(sc)
        sc.removeSparkListener(counters)
        opBlockPeak(opId) = counters.blockPeakBytes
      }
      spans(root).seconds
    }
  }

  /** Leaf-call durations (op id, span name, seconds), recorded traced or
    * not: two clock reads per call. */
  val calls = mutable.ArrayBuffer[(Int, String, Double)]()

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) {
      val t0 = System.nanoTime()
      try body finally calls += ((opId, name, (System.nanoTime() - t0) / 1e9))
    } else {
      val s = Span(spans.size, name, layer, stack.headOption.map(_.id).getOrElse(-1),
        opId, System.nanoTime(), System.currentTimeMillis(), gcMs())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"pb-${s.id}", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.gcEndMs = gcMs()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
        if (s.parent >= 0) calls += ((opId, name, s.seconds))
      }
    }

  // ---------------------------------------------------------- analysis

  private lazy val children: Map[Int, Seq[Span]] =
    spans.toSeq.groupBy(_.parent)

  /** Span id each job belongs to: its job group when the benchmark set
    * one, else the innermost span open when the job was submitted (jobs
    * started by threads that do not inherit the group). */
  private lazy val jobSpan: Map[Int, Int] = counters.jobs.flatMap {
    case (job, time, group) =>
      val byGroup = Option(group).filter(_.startsWith("pb-"))
        .map(_.stripPrefix("pb-").toInt)
      byGroup.orElse(spans.filter(s => s.startMs <= time && time <= s.endMs)
        .sortBy(-_.startNs).headOption.map(_.id)).map(job -> _)
  }.toMap

  private def descendants(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(descendants)

  /** Self time: the span's duration minus what its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  /** Counters of the jobs started inside `s` or any span below it. */
  def stats(s: Span): SparkStats = {
    val ids = descendants(s).map(_.id).toSet
    val jobs = jobSpan.collect { case (j, sp) if ids(sp) => j }.toSet
    val ts = counters.tasks.filter(t => jobs(t.job))
    // busy: wall time inside the span with at least one task running
    val iv = ts.map(t => (math.max(t.launchMs, s.startMs), math.min(t.finishMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy, curA, curB = 0L
    var open = false
    iv.foreach { case (a, b) =>
      if (!open || a > curB) {
        if (open) busy += curB - curA
        curA = a; curB = b; open = true
      } else curB = math.max(curB, b)
    }
    if (open) busy += curB - curA
    SparkStats(jobs.size, ts.size, ts.count(_.failed), ts.map(_.runMs).sum,
      ts.map(_.shuffleBytes).sum, ts.map(_.spillBytes).sum,
      if (ts.isEmpty) 0L else ts.map(_.peakExec).max,
      ts.map(_.outBytes).sum, ts.map(_.outRecords).sum, busy)
  }

  def roots: Seq[Span] = spans.filter(_.parent < 0).toSeq

  /** Write the span file (one JSON object per line) and the per-layer
    * self-time table. */
  def write(dir: String): Unit = {
    val lines = spans.map { s =>
      val st = stats(s)
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "dur_s" -> s.seconds, "self_s" -> selfSeconds(s),
        "jobs" -> st.jobs, "tasks" -> st.tasks, "failed_tasks" -> st.failedTasks,
        "task_run_ms" -> st.runMs, "busy_ratio" -> st.busyRatio(s.seconds, cores),
        "idle_s" -> st.idleS(s.seconds), "shuffle_bytes" -> st.shuffleBytes,
        "spill_bytes" -> st.spillBytes, "peak_exec_bytes" -> st.peakExecBytes,
        "out_bytes" -> st.outBytes, "out_records" -> st.outRecords,
        "gc_ms" -> (s.gcEndMs - s.gcStartMs)))
    }
    Files.write(s"$dir/spans.jsonl", lines.mkString("", "\n", "\n"))
    // one row per (operation kind, layer, span name): a backfill's calls
    // and a daily load's are separate rows
    val header = "op\tlayer\tspan\tcalls\tself_s_per_op\tshare\t" +
      "jobs\ttasks\tbusy_ratio\tidle_s\tshuffle_bytes\tspill_bytes\tgc_ms"
    val rootOf = roots.map(r => r.op -> r).toMap
    val rows = spans.groupBy(s => (rootOf(s.op).name, s.layer, s.name)).toSeq.sortBy(_._1).map {
      case ((op, layer, name), ss) =>
        val opRoots = roots.filter(_.name == op)
        val self = ss.map(selfSeconds).sum
        val st = ss.map(stats)
        val dur = ss.map(_.seconds).sum
        f"$op\t$layer\t$name\t${ss.size}\t${self / opRoots.size}%.4f\t" +
          f"${self / opRoots.map(_.seconds).sum}%.4f\t" +
          f"${st.map(_.jobs).sum}\t${st.map(_.tasks).sum}\t" +
          f"${st.map(_.runMs).sum / 1000.0 / (dur * cores)}%.4f\t" +
          f"${st.zip(ss).map { case (x, s) => x.idleS(s.seconds) }.sum}%.4f\t" +
          f"${st.map(_.shuffleBytes).sum}\t${st.map(_.spillBytes).sum}\t" +
          s"${ss.map(s => s.gcEndMs - s.gcStartMs).sum}"
    }
    Files.write(s"$dir/self_times.tsv", (header +: rows).mkString("", "\n", "\n"))
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Files {
  import java.nio.file.{Files => JFiles, Paths}

  def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    JFiles.createDirectories(p.getParent)
    JFiles.writeString(p, s)
  }

  /** Size of every regular file under `root`, by path relative to it. */
  def sizes(root: String): Map[String, Long] = {
    val r = Paths.get(root)
    if (!JFiles.exists(r)) Map.empty
    else {
      val s = JFiles.walk(r)
      try s.iterator().asScala.filter(JFiles.isRegularFile(_))
        .map(p => r.relativize(p).toString -> JFiles.size(p)).toMap
      finally s.close()
    }
  }
}
