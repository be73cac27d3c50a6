package graft

/** Plan-audit main: prints the formatted physical plan for the named
  * queries (or all). Used to hold the scale discipline: PushedFilters
  * reach the scan, ReadSchema is pruned, dim joins are
  * BroadcastHashJoin, WholeStageCodegen spans are wide, and exchange
  * counts match the design notes.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session(Harness.cpus)
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
