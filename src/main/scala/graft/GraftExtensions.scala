package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{Hamming64, SimHash64, SubstrGramHashes, ZOrder2}

/** `SparkSessionExtensions` hook (SURVEY.md §7.3): injects the engine's
  * native expressions into any session at build time —
  *
  * {{{
  * builder.withExtensions(new GraftExtensions)   // or
  * builder.config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * This is the deployment-grade registration path (cluster-wide via
  * config, no per-session imperative setup); `SimHash.register` remains
  * for ad-hoc sessions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
    e.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SimHash64(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("hamming64"),
      new ExpressionInfo(classOf[Hamming64].getName, "hamming64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Hamming64(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("substr_gram_hashes"),
      new ExpressionInfo(classOf[SubstrGramHashes].getName, "substr_gram_hashes"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SubstrGramHashes(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("zorder2"),
      new ExpressionInfo(classOf[ZOrder2].getName, "zorder2"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ZOrder2(exprs.head, exprs(1))))
  }
}
