package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions injection point (SURVEY.md §7.6): installs
  * the engine's native expressions into every session built with
  *
  *   Session.local(extensions = Some(new GraftExtensions))
  *   // or: spark.sql.extensions=graft.GraftExtensions
  *
  * so SQL users get `rolling_hash`, `dot_exact`, `word_shingles`
  * without any per-session registration call — the same mechanism a
  * deployment would use to ship the whole library cluster-wide via
  * one config line.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, "", name, usage, "", "", "",
      "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => functions.EliminateRedundantDistinct)
    e.injectPlannerStrategy(_ => plans.TopKStrategy)
    e.injectFunction((FunctionIdentifier("rolling_hash"),
      info("rolling_hash", "rolling_hash(str) - 64-bit polynomial rolling hash"),
      (exprs: Seq[Expression]) => functions.RollingHash(exprs.head)))
    e.injectFunction((FunctionIdentifier("dot_exact"),
      info("dot_exact", "dot_exact(a, b) - exact decimal-semantics dot product"),
      (exprs: Seq[Expression]) => functions.DotProductExact(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("bloom_agg"),
      info("bloom_agg", "bloom_agg(keyHash[, estItems]) - Bloom membership sketch over xxhash64 keys"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
        case Seq(c, n) => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
        case other => throw new IllegalArgumentException(
          s"bloom_agg(keyHash[, estItems]): got ${other.size} args")
      }))
    e.injectFunction((FunctionIdentifier("bloom_contains"),
      info("bloom_contains", "bloom_contains(bloom, keyHash) - no-false-negative membership probe"),
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("sorted_intersect_count"),
      info("sorted_intersect_count",
        "sorted_intersect_count(a, b) - |A∩B| of two sorted-ascending bigint arrays"),
      (exprs: Seq[Expression]) => functions.SortedIntersectCount(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("sim_hash60"),
      info("sim_hash60", "sim_hash60(str) - 60-bit majority-vote SimHash of the distinct words"),
      (exprs: Seq[Expression]) => functions.SimHash60(exprs.head)))
    e.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(str, n) - distinct word n-gram shingles"),
      (exprs: Seq[Expression]) => functions.WordShingles(exprs.head,
        functions.ConstArgs.int("word_shingles", exprs(1)))))
  }
}
