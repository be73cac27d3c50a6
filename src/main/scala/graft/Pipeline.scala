package graft

import scala.collection.mutable

import graft.warehouse.{Span, Warehouse}

/** The paper's warehouse chain (SURVEY.md §3 E1→E2→E3, see
  * [[graft.warehouse.Warehouse]]) over a source directory in the layout
  * `perfbench/gen.py` writes: a backfill, then every one-day delta of
  * its manifest. Prints each load's seconds per chain step.
  *
  * Usage: runMain graft.Pipeline <sourceDir> [outDir]
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Pipeline <sourceDir> [outDir]")
    val outDir = new java.io.File(args.lift(1).getOrElse("/tmp/graft_pipeline")).getAbsolutePath
    val spark = Harness.session(Harness.cpus)
    val seconds = mutable.LinkedHashMap.empty[String, Double]
    val timed = new Span {
      def apply[A](step: String)(body: => A): A = {
        val t0 = System.nanoTime()
        try body
        finally seconds(step) = seconds.getOrElse(step, 0.0) + (System.nanoTime() - t0) / 1e9
      }
    }
    def report[A](load: String)(run: => A): A = {
      seconds.clear()
      val value = run
      println(s"[pipeline] $load " +
        seconds.map { case (step, s) => f"$step=$s%.2fs" }.mkString(" "))
      value
    }
    val w = new Warehouse(spark, outDir, timed)
    val m = report("backfill")(w.backfill(args(0)))
    m.deltas.foreach(d => report(d.path.split('/').last)(w.dailyLoad(d)))
    println(s"[pipeline] ${m.deltas.size + 1} loads out=$outDir")
    spark.stop()
  }
}
