package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.{BottomKSampleAgg, CleanToken, CountMinAgg, HllNdvAgg, KmvNdvAgg, PruneInferredGenerateFilter, RewriteSortedCollectSet, SortedDistinctSetAgg, SpaceSavingAgg}

/** Engine extensions, installable on any session:
  *
  * {{{
  *   GraftSession("local[4]", 4)  // every graft main and test session
  *   // or: --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  *  - SQL function `sorted_set_agg(bigint) -> array<bigint>`: one-pass sorted
  *    distinct set (see [[graft.plans.SortedDistinctSetAgg]])
  *  - optimizer rule rewriting `sort_array(collect_set(x))` to it
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("sorted_set_agg"),
      new ExpressionInfo(classOf[SortedDistinctSetAgg].getName, "sorted_set_agg"),
      (exprs: Seq[Expression]) => SortedDistinctSetAgg(exprs.head).toAggregateExpression()))
    // mergeable frequent-items sketch: capacity-bounded per-task state,
    // partial sketches merge up the exchange — the raw-stream heavy-hitter
    // shape (see graft.plans.SpaceSavingAgg)
    e.injectFunction((
      FunctionIdentifier("spacesaving_topk"),
      new ExpressionInfo(classOf[SpaceSavingAgg].getName, "spacesaving_topk"),
      (exprs: Seq[Expression]) => SpaceSavingAgg(exprs(0), exprs(1)).toAggregateExpression()))
    // KMV distinct sketch: deterministic bottom-k-by-md5, so sample AND
    // estimate replay exactly cross-engine (see graft.plans.KmvNdvAgg)
    e.injectFunction((
      FunctionIdentifier("kmv_ndv"),
      new ExpressionInfo(classOf[KmvNdvAgg].getName, "kmv_ndv"),
      (exprs: Seq[Expression]) => KmvNdvAgg(exprs(0), exprs(1)).toAggregateExpression()))
    // HyperLogLog distinct sketch over the portable md5-60 hash: 2^p byte
    // registers, element-wise-max merge, exact-integer harmonic sum — the
    // whole sketch (registers AND estimate) replays in SQL, unlike
    // approx_count_distinct (see graft.plans.HllNdvAgg)
    e.injectFunction((
      FunctionIdentifier("hll_ndv"),
      new ExpressionInfo(classOf[HllNdvAgg].getName, "hll_ndv"),
      (exprs: Seq[Expression]) => HllNdvAgg(exprs(0), exprs(1)).toAggregateExpression()))
    // Count-Min point-frequency sketch: depth×width counters, min-probe —
    // order-independent element-wise-add merge, SQL-replayable salted-md5
    // buckets (see graft.plans.CountMinAgg)
    e.injectFunction((
      FunctionIdentifier("cms_counts"),
      new ExpressionInfo(classOf[CountMinAgg].getName, "cms_counts"),
      (exprs: Seq[Expression]) => CountMinAgg(exprs(0), exprs(1), exprs(2)).toAggregateExpression()))
    // deterministic bottom-k row sample: mergeable k-bounded uniform
    // sample of (key-hashed) rows — the quantile member of the sketch
    // family (see graft.plans.BottomKSampleAgg)
    e.injectFunction((
      FunctionIdentifier("bottomk_sample"),
      new ExpressionInfo(classOf[BottomKSampleAgg].getName, "bottomk_sample"),
      (exprs: Seq[Expression]) =>
        BottomKSampleAgg(exprs(0), exprs(1), exprs(2)).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("graft_clean_token"),
      new ExpressionInfo(classOf[CleanToken].getName, "graft_clean_token"),
      (exprs: Seq[Expression]) => CleanToken(exprs.head)))
    // Spark's own runtime-filter bloom expressions, surfaced as SQL
    // functions (the optimizer keeps them internal): the manual semi-join
    // reduction in graft.plans.BloomJoin builds/probes through these, so
    // the probe stays codegen'd instead of a broadcast-variable UDF.
    e.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (exprs: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs(0), exprs(1), exprs(2)).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs(0), exprs(1))))
    e.injectOptimizerRule(_ => RewriteSortedCollectSet)
    // strip the inferred pre-Generate size/isnotnull filter when it
    // re-derives an expensive generator input (it doubled the map-side
    // tokenize+shingle work on the hottest queries — see the rule's doc)
    e.injectOptimizerRule(_ => PruneInferredGenerateFilter)
  }
}
