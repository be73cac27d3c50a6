package graft

/** Diagnostic main (not part of the driver contract): runs ONE
  * SparkEntry query with the Harness recorder attached and prints
  *   - every job's wall time (the action-grain cost breakdown an
  *     iterative trace like q282 needs — each round's checkpoint,
  *     census count and aggregate is its own job), and
  *   - per-RDD block bytes (memory + disk) at their high-water mark —
  *     the MEASURED payload of persist/localCheckpoint block sets,
  *     which is how the round-13 "checkpoint I/O" hypothesis gets
  *     numbers instead of arguments.
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.Probe <sfDir> <query>
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe <sfDir> <query>")
    val sfDir = args(0)
    val q = args(1)
    val spark = Harness.session(Harness.cpus)
    val rec = Harness.record(spark)

    val t0 = System.nanoTime()
    SparkEntry.queries(q)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val total = (System.nanoTime() - t0) / 1e9
    Harness.drain(spark.sparkContext)

    println(f"probe] $q total ${total}%.2f s, ${rec.jobMs.size} jobs")
    rec.jobMs.toSeq.sortBy(_._1).foreach { case (id, ms) =>
      if (ms >= 200) println(f"probe] job $id%4d  ${ms / 1000.0}%8.2f s  " +
        rec.jobDesc.getOrElse(id, ""))
    }
    val byRdd = rec.blockHw.toSeq
      .groupBy(_._1.split("_")(1).toInt)
      .map { case (r, bs) =>
        (r, bs.map(_._2._1).sum, bs.map(_._2._2).sum) }
      .toSeq.sortBy(t => -(t._2 + t._3))
    val (tm, td) = (byRdd.map(_._2).sum, byRdd.map(_._3).sum)
    // CUMULATIVE high-water bytes: each block's own peak, summed over
    // every RDD the run ever cached — generations that were freed
    // before later ones materialized are still counted, so this is an
    // upper bound on (not a measurement of) the CONCURRENT footprint.
    // Spill (disk > 0 on a MEMORY_* level) is the concurrent signal.
    println(f"probe] cached/checkpointed CUMULATIVE high-water: " +
      f"mem ${tm / 1e6}%.1f MB, disk ${td / 1e6}%.1f MB " +
      f"across ${byRdd.size} RDDs (upper bound on concurrent footprint)")
    byRdd.take(15).foreach { case (r, m, d) =>
      println(f"probe] rdd_$r%-5d mem ${m / 1e6}%10.1f MB  disk ${d / 1e6}%10.1f MB")
    }
  }
}
