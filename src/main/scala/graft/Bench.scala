package graft

import graft.util.Blocks

/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Measurement discipline:
  *  - results are written to the `noop` datasource — every output column
  *    is computed (a bare `count()` would let Catalyst prune windows and
  *    projections and time the wrong plan);
  *  - one warm-up action first so JVM/codegen startup isn't billed to
  *    the first query;
  *  - queries run in sorted name order for stable run-to-run comparison;
  *  - SPARK_GRAFT_BENCH_REPS=k (default 1) runs every query k times and
  *    reports the per-query MEDIAN — one-shot cold numbers on a loaded
  *    host have shown ±2x noise (the r5 bench inflated uniformly ~1.9x
  *    vs standalone re-runs) and misdirect optimization. With k>1 the
  *    first rep absorbs any stage-materialization cost (the staged
  *    parquet outlives a rep, its caches and checkpoints do not), so
  *    medians reflect steady-state; the JSON contract is unchanged.
  */
object Bench {
  /** Build the short-id stdout contract line, folding the FASTEST
    * queries into one "qother" centisecond bucket when the full map
    * would overflow `budget` chars (driver keeps only the last ~2000
    * chars of stdout). Slow and failed queries — the rows a regression
    * hunt reads — always survive individually; failures (-1) are never
    * merged; the full per-query map still reaches the files and
    * stderr. Returns the line (callers `require` it under the hard
    * 1900 guard). Factored out of main so the merge path is unit-proven
    * BEFORE the query count ever grows into it. */
  private[graft] def contractLine(results: Seq[(String, Double)],
      total: Double, stageMode: String, reps: Int, noiseHint: String,
      sfDir: String, budget: Int = 1870): String = {
    def shortId(name: String): String = name.split("_")(0)
    def render(entries: Seq[(String, Double)], merged: Int,
        otherCs: Long): String = {
      val qsShort = entries
        .map { case (k, v) =>
          "\"" + shortId(k) + "\":" + (if (v < 0) "-1" else math.round(v * 100).toString)
        }
        .mkString("{", ",", "}")
      val mergedField =
        if (merged == 0) "" else s""","qmerged":$merged,"qother":$otherCs"""
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","qunit":"centisec","stage":"$stageMode","reps":$reps,"hint":"$noiseHint"$mergedField,"queries":$qsShort,"sf":"$sfDir"}"""
    }
    require(results.map(r => shortId(r._1)).distinct.size == results.size,
      "short query ids must stay unique — rename the colliding query")
    var line = render(results, 0, 0L)
    if (line.length >= budget) {
      val (failed, timed) = results.partition(_._2 < 0)
      val byTime = timed.sortBy(_._2)
      // try every keep count down TO AND INCLUDING zero (all timed
      // queries folded into qother, only failures individual) — the
      // caller's hard require fires only if even that cannot fit
      var keep = byTime.size
      var fits = false
      while (!fits && keep >= 0) {
        val dropped = byTime.take(byTime.size - keep)
        val otherCs = dropped.map(r => math.round(r._2 * 100)).sum
        line = render(
          (failed ++ byTime.drop(byTime.size - keep)).sortBy(_._1),
          dropped.size, otherCs)
        fits = line.length < budget
        if (!fits) keep -= 1
      }
    }
    line
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)

    // reproducible totals: point this run at a RUN-PRIVATE stage store
    // (a Scratch directory, deleted at JVM exit) so it is reproducibly
    // COLD (a stage surviving from a prior Verify/Bench would silently
    // shave ~13s off the metric and make cross-run comparisons
    // cold-vs-warm). Private rather than clearing the shared store: a
    // concurrent Verify/Bench on the same SF keeps its staged parquet —
    // no cross-process delete race. Within the run the pipeline still
    // stages once and reuses — that reuse is what's being measured. Set
    // SPARK_GRAFT_KEEP_STAGE=1 to bench warm against the shared store
    // instead.
    val keepStage = sys.env.get("SPARK_GRAFT_KEEP_STAGE").contains("1")
    if (!keepStage)
      sys.props("graft.stage.dir") = graft.util.Scratch.dir("stage_bench", sfDir)

    // warm-up: JVM, codegen, parquet footer reads — one count per table
    // family so the alphabetically-first query (q100 since round 5) is
    // not billed the session's cold-start the way q1_agg used to be
    graft.sources.Tables.lineitem(spark, sfDir).count()
    graft.sources.Tables.events(spark, sfDir).count()
    graft.sources.Tables.documents(spark, sfDir).count()
    graft.sources.Tables.embeddings(spark, sfDir).count()

    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
    // SPARK_GRAFT_BENCH_ONLY="q146,q50" (short-id prefixes) times a
    // subset — local iteration aid; the driver never sets it, so the
    // contract run always covers every query
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.forall(ids => ids.contains(name) || ids.contains(name.split("_")(0))) }
    // per-query stderr attribution (not part of the stdout contract):
    // GC-time delta, blocks released, cached-block high-water
    val rec = Harness.record(spark)
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).filter(_ > 0).sum
    }
    val results = selected.map { case (name, fn) =>
      val gc0 = gcMs()
      rec.clear()
      // blocks are released after EVERY rep, outside its clock, so no
      // rep finds an earlier rep's caches and no query inherits
      // another's storage-pool pressure; `released` sums over the reps
      val runs = (1 to reps).map { _ =>
        Blocks.scope(spark) {
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              false
            }
          if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        }
      }
      val times = runs.map(_._1)
      val released = runs.map(_._2).sum
      Harness.drain(spark.sparkContext)
      val hwMem = rec.blockHw.values.map(_._1).sum / 1e6
      val hwDisk = rec.blockHw.values.map(_._2).sum / 1e6
      System.err.println(
        f"[bench] $name%-28s med=${times.sorted.apply((times.size - 1) / 2)}%7.2fs " +
          f"gc_ms=${gcMs() - gc0}%-6d released=$released%-3d " +
          f"block_hw mem=${hwMem}%.1fMB disk=${hwDisk}%.1fMB")
      // a failed query reports -1, never a plausible small duration —
      // ANY failed rep fails the query (a flaky query must stay loud)
      name -> (if (times.exists(_ < 0)) -1.0
               else times.sorted.apply((times.size - 1) / 2))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val stageMode = if (keepStage) "warm" else "cold"
    // infrastructure breakout (file output only): how much of the
    // total is billed by streaming-checkpoint queries and by
    // stage-store-reading queries — a reader subtracts these to get
    // the plain-query cost without re-running (BASELINE.md documents
    // the scheme)
    def sumFor(names: Set[String]): Double =
      results.filter(r => names(r._1) && r._2 >= 0).map(_._2).sum
    val streamQueries = SparkEntry.streamQueries.keySet
    val stagedQueries = SparkEntry.stagedQueries.keySet
    val streamS = sumFor(streamQueries)
    val stagedS = sumFor(stagedQueries)
    def nameArr(names: Set[String]): String =
      names.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val breakdown =
      s""""breakdown":{"stream_s":$streamS,"staged_s":$stagedS,""" +
        s""""plain_s":${total - streamS - stagedS},""" +
        s""""stream_queries":${nameArr(streamQueries)},""" +
        s""""staged_queries":${nameArr(stagedQueries)}}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","stage":"$stageMode",$breakdown,"queries":$qs,"sf":"$sfDir"}"""
    // The driver's capture keeps only the LAST ~2000 characters of output;
    // the full-name queries map overflows that, truncating the JSON line
    // mid-object (BENCH_r01..r07 show "parsed": null with the tail
    // starting mid-line; r7's line measured exactly 2000 chars — the r5
    // short-id fix bought headroom that 155 queries consumed). The stdout
    // contract line therefore uses short query ids ("q24" for
    // "q24_lsh_pairs" — the id prefix is unique across SparkEntry.queries)
    // and INTEGER CENTISECONDS ("q123":625 = 6.25 s): ~1.7 KB at 159
    // queries, with a hard guard below so any future overflow fails the
    // build loudly instead of silently truncating a fourth round.
    // "qunit":"centisec" marks the per-query unit; the outer total stays
    // in seconds. "reps"/"hint" let parsers weight one-shot cold numbers
    // (±2x host noise, see r5/r7) vs medians. Full names + full precision
    // remain in the files and on stderr. BASELINE.md documents the scheme.
    val noiseHint = if (reps > 1) s"median_$reps" else "one-shot"
    val jsonShort =
      contractLine(results, total, stageMode, reps, noiseHint, sfDir)
    require(jsonShort.length < 1900,
      s"bench contract line is ${jsonShort.length} chars even fully " +
        "merged — must stay under 1900 (driver keeps only the last " +
        "~2000 chars of stdout); shrink ids")
    // sbt prefixes stdout with [info] and interleaves Spark logs, so the
    // driver's stream parse can miss the line — ALSO write it to files
    // (driver + humans read either). Two files: the canonical path for
    // the driver contract, plus an SF-tagged one so concurrent runs at
    // different scale factors can't clobber each other's result.
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_").replaceAll("^_|_$", "")
    val outPaths = Seq(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json"),
      s"/tmp/graft_bench_$sfTag.json").distinct
    outPaths.foreach { outPath =>
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
          (json + "\n").getBytes("UTF-8"))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
      }
    }
    // stderr copy first: a parser scanning either stream finds the line
    // in at least one of them
    System.err.println(json)
    // stop Spark BEFORE the final stdout line so no shutdown logging can
    // print after it — with showSuccess off (build.sbt) the JSON below
    // is the process's literal last stdout line, parseable by a
    // last-line reader. Shutdown is guarded: an exception during
    // spark.stop() (event-log/temp-dir IO) must not prevent the stdout
    // contract line from being printed.
    try spark.stop()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] spark.stop failed: ${e.getMessage}")
    }
    println(jsonShort)
    System.out.flush(); System.err.flush()
  }
}
