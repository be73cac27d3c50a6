package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: builds the session, runs one workload as a
  * closed loop of one client for `--seconds`, checks the outputs, and
  * writes its figures to `--out` as one JSON object.
  *
  * Usage: Main --workload etl_daily|query_mix --seed N --seconds S
  *   --min-ops K --trace 0|1 --data DIR --run DIR --cores C --out FILE
  *
  * With --trace 1, half the operations are traced: they carry spans, job
  * groups and the Spark listener, and the difference between the traced
  * and the untraced median is the tracing overhead. */
object Main {

  /** One timed operation: its op id (as the tracer numbers them), wall
    * time, source bytes loaded, bytes written per top-level directory,
    * source rows read, and stage directories built. */
  final case class OpRec(id: Int, traced: Boolean, wallS: Double, sourceBytes: Long,
      written: Map[String, Long], rowsRead: Long, stageDirs: Int = 0)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val minOps = a("min-ops").toInt
    val trace = a("trace") == "1"
    val (data, run, cores) = (a("data"), a("run"), a("cores").toInt)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark.sparkContext, cores)
    spark.range(0, 1000000, 1, cores).selectExpr("sum(id)").collect()

    val ops = mutable.ArrayBuffer[OpRec]()
    val checks = mutable.ArrayBuffer[Check]()
    var failedOps = 0
    var loopStartMs = 0L

    /** Closed loop: start the next operation when the last one ends,
      * until `seconds` have passed; at least `minOps`, so a median is
      * robust to disturbed operations, and at most `maxOps`. A traced run
      * traces every second operation and ends on an untraced one, so the
      * untraced operations bracket the traced ones and a drift in speed
      * over the run does not bias the tracing overhead. */
    def loop(maxOps: Int)(runOp: (Int, Boolean) => OpRec): Unit = {
      loopStartMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var i = 0
      def more = i < minOps || (System.nanoTime() - t0) / 1e9 < seconds || (trace && i % 2 == 0)
      while (i < maxOps && more) {
        val traced = trace && i % 2 == 1
        try ops += runOp(i, traced)
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] operation $i failed: $e")
          failedOps += 1
        }
        i += 1
      }
    }

    var backfill: Option[Span] = None
    workload match {
      case "etl_daily" =>
        // set-up: one cold E1 -> E2 -> E3 chain over every history source
        // into an empty root (traced in a traced run), then the timed
        // one-day loads, starting with the first delta
        val w = new Warehouse(spark, tr, data, s"$run/wh", "pb_wh")
        tr.op("backfill", trace)(w.backfill())
        backfill = tr.roots.headOption
        var k = -1
        loop(w.manifest.deltas.size) { (i, traced) =>
          k = i
          val before = w.files()
          val s = tr.op("load", traced)(w.dailyLoad(k))
          OpRec(tr.currentOp, traced, s, w.sourceBytes,
            Warehouse.written(before, w.files()), w.rowsRead)
        }
        checks ++= etlGates(spark, w, k)

      case "query_mix" =>
        // set-up: the verification pass, which also warms the JVM; then
        // timed passes, each against its own empty stage store
        val sf = data
        sys.props("graft.stage.dir") = s"$run/graft_stage_verify"
        val dumpFailed = QueryMix.dump(spark, tr, sf, s"$run/verify")
        checks += Check("verification_pass", dumpFailed.isEmpty, dumpFailed.mkString(","))
        val inputBytes = new java.io.File(sf).listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.length).sum
        loop(1000) { (i, traced) =>
          val store = s"$run/graft_stage_$i"
          sys.props("graft.stage.dir") = store
          val s = tr.op("pass", traced) {
            QueryMix.mix.foreach { case (name, module) =>
              QueryMix.runQuery(spark, tr, sf, name, module)(
                _.write.format("noop").mode("overwrite").save())
            }
          }
          val (dirs, bytes) = QueryMix.stageStore(store)
          deleteTree(store)
          OpRec(tr.currentOp, traced, s, inputBytes, Map("stage" -> bytes), 0L, dirs)
        }
    }

    val untraced = ops.filterNot(_.traced)
    val untracedIds = untraced.map(_.id).toSet
    val e2e = Map(
      "op_p50_s" -> median(untraced.map(_.wallS).toSeq),
      "call_p50_s" -> median(tr.calls.filter(c => untracedIds(c._1)).map(_._3).toSeq),
      "write_amp" -> untraced.map(_.written.values.sum).sum.toDouble /
        math.max(1L, untraced.map(_.sourceBytes).sum))
    val layer =
      if (trace) layerMetrics(tr, ops.toSeq, backfill) else Map.empty[String, Double]
    if (trace) tr.write(s"$run/trace")

    val result = Json.obj(Seq(
      "loop_start_ms" -> loopStartMs,
      "e2e" -> e2e,
      "layer" -> layer,
      "ops" -> ops.map(o => Map("traced" -> o.traced, "wall_s" -> o.wallS,
        "source_bytes" -> o.sourceBytes, "written" -> o.written,
        "rows_read" -> o.rowsRead)),
      "ops_attempted" -> (ops.size + failedOps), "ops_failed" -> failedOps,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "peak_rss_mb" -> vmHwmMb()))
    Files.write(a("out"), result)
    spark.stop()
  }

  private def etlGates(spark: SparkSession, w: Warehouse, lastDelta: Int): Seq[Check] = {
    val last = w.manifest.deltas(lastDelta)
    Seq(
      Gates.storeState(spark, w, last.stagedRows, last.stagedTicks),
      Gates.spread(spark, w),
      Gates.movingAverages(spark, w),
      Gates.cot(spark, w),
      Gates.idempotent(spark, w, w.stagedBatch(lastDelta)),
      Gates.audit(spark, w, expectedAudits(w, lastDelta)))
  }

  /** Audit rows the loads of `w` must have written: the backfill's four
    * sources, then one barchart row per daily load. */
  private def expectedAudits(w: Warehouse, lastDelta: Int): Seq[(String, Long, Long)] = {
    val m = w.manifest
    Seq(("stg_ohlcv", m.ohlcvRows, m.ohlcvRows - m.ohlcvNulls),
      ("stg_barchart", m.barchartRows, m.stagedRows),
      ("stg_cot", m.cotRows, m.cotRows),
      ("stg_usda", m.usdaKept, m.usdaKept)) ++
      (0 to lastDelta).map(k => ("stg_barchart", m.deltas(k).rows, m.deltas(k).stagedRows))
  }

  val etlSpans = Seq("sources.scan", "stg.normalize", "stg.upsert", "stg.audit",
    "ods.dims", "ods.fact", "mart.extract")
  val etlLayers = Seq("sources", "stg", "ods", "mart")

  /** Per-layer figures of the traced operations, each the median over
    * them of a per-operation value. Layers a workload never calls read 0. */
  private def layerMetrics(tr: Tracer, ops: Seq[OpRec],
      backfill: Option[Span]): Map[String, Double] = {
    val (traced, untraced) = ops.partition(_.traced)
    val roots = tr.roots.filterNot(r => backfill.contains(r))
    val byOp = tr.spans.toSeq.filter(_.parent >= 0).groupBy(_.op)
    def perOp(f: Seq[Span] => Double): Double =
      median(roots.map(r => f(byOp.getOrElse(r.op, Nil))))
    def self(p: Span => Boolean): Double =
      perOp(ss => ss.filter(p).map(tr.selfSeconds).sum)
    def sum(p: Span => Boolean)(f: SparkStats => Double): Double =
      perOp(ss => ss.filter(p).map(s => f(tr.stats(s))).sum)
    def written(dir: String): Double = median(traced.map(_.written.getOrElse(dir, 0L).toDouble))
    val rewritten = sum(_.name == "stg.upsert")(_.outRecords.toDouble)
    val staged = sum(_.name == "sources.scan")(_.outRecords.toDouble)
    val rootOps = roots.map(_.op).toSet
    val fact = tr.spans.filter(s => s.name == "ods.fact" && rootOps(s.op)).toSeq
    val rootStats = roots.map(r => r -> tr.stats(r))
    def spark(f: (Span, SparkStats) => Double): Double =
      median(rootStats.map { case (r, st) => f(r, st) })
    val traceS = median(traced.map(_.wallS))
    val plainS = median(untraced.map(_.wallS))
    val bf = backfill.toSeq.flatMap(r => tr.spans.filter(_.op == r.op))
    etlSpans.map(n => s"${n}_s" -> self(_.name == n)).toMap ++
      etlSpans.map(n => s"backfill.${n}_s" ->
        bf.filter(_.name == n).map(tr.selfSeconds).sum) ++
      Map("backfill.chain_s" -> backfill.map(_.seconds).getOrElse(0.0)) ++
      QueryMix.modules.map(m => s"$m.s" -> self(_.layer == m)) ++
      (etlLayers ++ QueryMix.modules).flatMap(l => Seq(
        s"$l.idle_s" ->
          perOp(ss => ss.filter(_.layer == l).map(s => tr.stats(s).idleS(s.seconds)).sum),
        s"$l.tasks" -> sum(_.layer == l)(_.tasks.toDouble))) ++
      Map(
        "sources.rows_read" -> median(traced.map(_.rowsRead.toDouble)),
        "sources.bytes_written" -> written("tmp"),
        "stg.rows_rewritten" -> rewritten,
        "stg.useful_ratio" -> (if (rewritten > 0) staged / rewritten else 0.0),
        "stg.bytes_written" -> written("stg"),
        "ods.bytes_written" -> written("ods"),
        "ods.fact_rows" -> sum(_.name == "ods.fact")(_.outRecords.toDouble),
        "ods.fact_busy_ratio" -> median(fact.map(s => tr.stats(s).busyRatio(s.seconds, tr.cores))),
        "mart.bytes_written" -> written("mart"),
        "Staged.builds" -> median(traced.map(_.stageDirs.toDouble)),
        "Staged.bytes" -> written("stage"),
        "spark.jobs" -> spark((_, st) => st.jobs),
        "spark.tasks" -> spark((_, st) => st.tasks),
        "spark.failed_tasks" -> spark((_, st) => st.failedTasks),
        "spark.busy_ratio" -> spark((r, st) => st.busyRatio(r.seconds, tr.cores)),
        "spark.idle_s" -> spark((r, st) => st.idleS(r.seconds)),
        "spark.shuffle_bytes" -> spark((_, st) => st.shuffleBytes),
        "spark.spill_bytes" -> spark((_, st) => st.spillBytes),
        "spark.gc_ms" -> spark((r, _) => r.gcEndMs - r.gcStartMs),
        "spark.peak_exec_mb" -> spark((_, st) => st.peakExecBytes / 1048576.0),
        "spark.block_hw_mb" -> spark((r, _) => tr.opBlockPeak.getOrElse(r.op, 0L) / 1048576.0),
        "trace.traced_op_s" -> traceS,
        "trace.untraced_op_s" -> plainS,
        "trace.overhead_s" -> (traceS - plainS),
        "trace.glue_s" -> median(roots.map(tr.selfSeconds)),
        "trace.layer_self_s" -> perOp(_.map(tr.selfSeconds).sum))
  }

  def deleteTree(dir: String): Unit =
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively(): Unit

  /** Peak resident set of this process (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val line = scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status"))(
      _.getLines().find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
