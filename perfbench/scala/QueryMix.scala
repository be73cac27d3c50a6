package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A fixed read-only subset of `SparkEntry.queries`, each tagged with the
  * operator module its registration calls. No stg/ods/mart query is in
  * it, so warehouse-layer changes must leave it unchanged. */
object QueryMix {

  val mix: Seq[(String, String)] = Seq(
    "q3_star_join" -> "Relational",
    "q23_minhash" -> "TextOps",
    "q27_knn_cosine" -> "VectorOps",
    "q31_sessionize" -> "EventOps",
    "q285_neyman_alloc" -> "StatsOps",
    "q34_udaf_centmean" -> "CustomOps",
    "q187_stream_ohlc" -> "EventStream",
    "q268_zorder_layout" -> "Scale")

  val modules: Seq[String] = mix.map(_._2).distinct

  /** Drop what a query cached: Dataset persists through the cache
    * manager, then any RDD persisted or eagerly checkpointed since
    * `before` (the same release graft.Bench makes between queries). */
  private def release(spark: SparkSession, before: Set[Int]): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = false)
    }
  }

  /** Run one query in its module's span; `sink` materializes the result.
    * What the query cached is released afterwards, outside the span. */
  def runQuery(spark: SparkSession, tr: Tracer, sfDir: String, name: String,
      module: String)(sink: org.apache.spark.sql.DataFrame => Unit): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    tr.span(name, module)(sink(SparkEntry.queries(name)(spark, sfDir)))
    release(spark, before)
  }

  /** Verification pass: every result to parquet plus the oracle SQL, for
    * the DuckDB compare after the run. */
  def dump(spark: SparkSession, tr: Tracer, sfDir: String, out: String): Seq[String] = {
    val failed = mix.flatMap { case (name, module) =>
      try {
        runQuery(spark, tr, sfDir, name, module)(
          _.coalesce(1).write.mode("overwrite").parquet(s"$out/$name"))
        None
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed in the verification pass: $e")
        Some(name)
      }
    }
    val sql = mix.map(_._1).map(n => n -> SparkEntry.oracleSql(n))
    Files.write(s"$out/oracle_sql.json", Json.obj(sql))
    failed
  }

  /** Stage directories and their bytes in a private stage store, laid
    * out as <version>/<corpus>/<stage>/<files>. */
  def stageStore(root: String): (Int, Long) = {
    val files = Files.sizes(root)
    val stages = files.keys.map(_.split('/')).filter(_.length > 3).map(_.take(3).toSeq).toSet
    (stages.size, files.values.sum)
  }
}
