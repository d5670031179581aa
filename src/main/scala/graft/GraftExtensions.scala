package graft

import graft.functions.{CosineSimilarity, DotProduct}
import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook: registers the native vector functions in
  * the SQL function registry, so `spark.sql("... graft_dot(a, b) ...")`
  * and plain-SQL users get the same codegen'd hot loop the DataFrame API
  * uses. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (all graft
  * entry points do).
  *
  *   graft_dot(a, b)    — Σ aᵢbᵢ over two array<double>
  *   graft_cosine(a, b) — graft_dot(a,b) / (‖a‖·‖b‖), composed from
  *                        catalyst arithmetic around the same expression
  *
  * It also sizes Spark's generated-class cache for graft's query surface
  * (see [[GraftExtensions.sizeCodegenCache]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def dotBuilder(children: Seq[Expression]): Expression =
    DotProduct(children(0), children(1))

  private def cosineBuilder(children: Seq[Expression]): Expression =
    CosineSimilarity(children(0), children(1)) // fused: one loop, 3 accumulators

  override def apply(ext: SparkSessionExtensions): Unit = {
    // extensions apply after the SparkContext exists and before the
    // session's shared state copies its conf
    Option(SparkEnv.get).foreach(env => GraftExtensions.sizeCodegenCache(env.conf))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      dotBuilder _))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      cosineBuilder _))
    // heavy-hitters sketch aggregate (analyzer wraps the AggregateFunction)
    ext.injectFunction((
      FunctionIdentifier("graft_topk_freq"),
      new ExpressionInfo(classOf[graft.functions.TopKFreq].getName, "graft_topk_freq"),
      graft.functions.TopKFreq.builder _))
    // storable heavy-hitters family: build / fold / read — the
    // serialized SpaceSaving state as a first-class binary column
    ext.injectFunction((
      FunctionIdentifier("graft_topk_sketch"),
      new ExpressionInfo(classOf[graft.functions.TopKSketchAgg].getName,
        "graft_topk_sketch"),
      graft.functions.TopKSketchAgg.builder _))
    ext.injectFunction((
      FunctionIdentifier("graft_topk_merge"),
      new ExpressionInfo(classOf[graft.functions.TopKMergeAgg].getName,
        "graft_topk_merge"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "graft_topk_merge(sketch) takes exactly one argument")
        graft.functions.TopKMergeAgg(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_topk_read"),
      new ExpressionInfo(classOf[graft.functions.TopKRead].getName,
        "graft_topk_read"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "graft_topk_read(sketch) takes exactly one argument")
        graft.functions.TopKRead(children.head)
      }))
    // distinct-count sketch family: build / fold / read — the
    // persistable cardinality aggregate (sparse-exact → dense-HLL)
    ext.injectFunction((
      FunctionIdentifier("graft_distinct_sketch"),
      new ExpressionInfo(classOf[graft.functions.DistinctSketchAgg].getName,
        "graft_distinct_sketch"),
      graft.functions.DistinctSketchAgg.builder _))
    ext.injectFunction((
      FunctionIdentifier("graft_sketch_merge"),
      new ExpressionInfo(classOf[graft.functions.SketchMergeAgg].getName,
        "graft_sketch_merge"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "graft_sketch_merge(sketch) takes exactly one argument")
        graft.functions.SketchMergeAgg(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_sketch_est"),
      new ExpressionInfo(classOf[graft.functions.SketchEst].getName,
        "graft_sketch_est"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "graft_sketch_est(sketch) takes exactly one argument")
        graft.functions.SketchEst(children.head)
      }))
    // quantile sketch family: build / fold / read — order statistics
    // as a persistable column (exact below k, compactor summary past it)
    ext.injectFunction((
      FunctionIdentifier("graft_quantile_sketch"),
      new ExpressionInfo(classOf[graft.functions.QuantileSketchAgg].getName,
        "graft_quantile_sketch"),
      graft.functions.QuantileSketchAgg.builder _))
    ext.injectFunction((
      FunctionIdentifier("graft_quantile_merge"),
      new ExpressionInfo(classOf[graft.functions.QuantileMergeAgg].getName,
        "graft_quantile_merge"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "graft_quantile_merge(sketch) takes exactly one argument")
        graft.functions.QuantileMergeAgg(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_quantile_at"),
      new ExpressionInfo(classOf[graft.functions.QuantileAt].getName,
        "graft_quantile_at"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_quantile_at(sketch, q) takes exactly two arguments")
        // explicit double cast on the quantile arg only (SQL decimal
        // literals like 0.5); the sketch arg stays strictly binary
        graft.functions.QuantileAt(children(0),
          org.apache.spark.sql.catalyst.expressions.Cast(children(1),
            org.apache.spark.sql.types.DoubleType))
      }))
    // bloom build + probe: the scan-side semi-join prune, SQL-visible
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[graft.functions.BloomAgg].getName, "graft_bloom_agg"),
      graft.functions.BloomAgg.builder _))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[graft.functions.BloomContains].getName,
        "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_bloom_contains(filter, key) takes exactly two arguments")
        graft.functions.BloomContains(children(0), children(1))
      }))
    // whole-operator custom plan: logical AsofJoin → AsofJoinExec
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.AsofJoinStrategy)
  }
}

object GraftExtensions {
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Generated classes kept compiled. One pass over the 10 reference
    * crunch queries needs 200-400 distinct classes: at Spark's default of
    * 100 a pass recompiled 173-250 of them (3.4 s of a 16 s pass at
    * sf0.002, 4 vCPUs), at 400 none. 1000 leaves room for the rest of the
    * surface; each entry is one small class. */
  val CodegenCacheEntries = 1000

  /** Spark fixes the cache size when its code generator is first used, so
    * this must reach the SparkContext's conf before any query compiles.
    * An explicit setting wins. */
  def sizeCodegenCache(conf: SparkConf): Unit =
    conf.setIfMissing(CodegenCacheKey, CodegenCacheEntries.toString)
}
