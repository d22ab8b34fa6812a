package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.Decimal
import graft.functions.{BitmapAgg, BitmapAndCard, BitmapCard, BitmapOrAgg, HeavyHittersAgg, HoldingFoldAgg, QuantileSketchAgg}

/** Session-extension wiring for cluster deployment: ship the jar and
  * set `spark.sql.extensions=graft.GraftExtensions` — every session
  * (including Thrift/Connect ones that never run Scala code) gets the
  * engine's SQL functions. Local sessions get the same via
  * GraftSession / HoldingFoldAgg.register. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Fold a foldable numeric literal (SQL decimals included) to
    * Double at function-resolution time. */
  private def foldDouble(e: org.apache.spark.sql.catalyst.expressions.Expression): Double = {
    require(e.foldable, s"expected a literal, got $e")
    e.eval() match {
      case d: Decimal => d.toDouble
      case d: java.lang.Number => d.doubleValue()
      case other => throw new IllegalArgumentException(s"not numeric: $other")
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // the three declaration rewrites, each a no-op until its
    // graft.plans.Registry holds a def over a table the plan scans
    // (Registry.gate): aggregate-navigation MV rewrite (MvCatalog),
    // FK-verified join elimination (FkCatalog, plus PkCatalog for
    // outer joins), PK-verified distinct elimination (PkCatalog)
    ext.injectOptimizerRule(s => graft.plans.MvRewriteRule(s))
    ext.injectOptimizerRule(s => graft.plans.JoinElimRule(s))
    ext.injectOptimizerRule(s => graft.plans.DistinctElimRule(s))
    // planner-probed result cache (graft.analytics.ResultCacheRule);
    // a no-op until graft.resultcache.dir is set on the session
    ext.injectOptimizerRule(s => graft.analytics.ResultCacheRule(s))
    ext.injectFunction((
      new FunctionIdentifier("hold_fold"),
      new ExpressionInfo(classOf[HoldingFoldAgg].getName, "hold_fold"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        HoldingFoldAgg(exprs(0), exprs(1), exprs(2), exprs(3), exprs(4))))
    // quantile_sketch(x, array(q...), eps) — quantiles and eps must be
    // literals (they parameterize the aggregate, like percentile's)
    ext.injectFunction((
      new FunctionIdentifier("quantile_sketch"),
      new ExpressionInfo(classOf[QuantileSketchAgg].getName, "quantile_sketch"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs(1).foldable, "quantile_sketch: quantiles must be a literal array")
        val arr = exprs(1).eval().asInstanceOf[ArrayData]
        val qs = (0 until arr.numElements()).map { i =>
          arr.get(i, exprs(1).dataType
            .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType) match {
            case d: Decimal => d.toDouble
            case d: java.lang.Number => d.doubleValue()
            case other => throw new IllegalArgumentException(s"not numeric: $other")
          }
        }
        QuantileSketchAgg(exprs(0), qs, foldDouble(exprs(2)))
      }))
    // heavy_hitters(x, k) — k must be a positive integral literal;
    // reject 2.9 / NaN at resolution time instead of silently truncating
    ext.injectFunction((
      new FunctionIdentifier("heavy_hitters"),
      new ExpressionInfo(classOf[HeavyHittersAgg].getName, "heavy_hitters"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        val kd = foldDouble(exprs(1))
        require(kd == kd.toInt.toDouble && kd >= 1,
          s"heavy_hitters: k must be a positive integer literal, got $kd")
        HeavyHittersAgg(exprs(0), kd.toInt)
      }))
    // exact distinct-id bitmaps (BitmapAgg scaladoc)
    ext.injectFunction((
      new FunctionIdentifier("bitmap_agg"),
      new ExpressionInfo(classOf[BitmapAgg].getName, "bitmap_agg"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BitmapAgg(exprs(0))))
    ext.injectFunction((
      new FunctionIdentifier("bitmap_card"),
      new ExpressionInfo(classOf[BitmapCard].getName, "bitmap_card"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BitmapCard(exprs(0))))
    ext.injectFunction((
      new FunctionIdentifier("bitmap_and_card"),
      new ExpressionInfo(classOf[BitmapAndCard].getName, "bitmap_and_card"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BitmapAndCard(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("bitmap_or_agg"),
      new ExpressionInfo(classOf[BitmapOrAgg].getName, "bitmap_or_agg"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BitmapOrAgg(exprs(0))))
  }
}

object GraftExtensions {

  /** Idempotently add `rule` to a session's optimizer — the per-session
    * path of the rules [[GraftExtensions]] injects cluster-wide (`Mv`,
    * `JoinElim`, `DistinctElim` and `ResultCache` `.install`). */
  def install(spark: org.apache.spark.sql.SparkSession,
              rule: org.apache.spark.sql.catalyst.rules.Rule[
                org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit =
    if (!spark.experimental.extraOptimizations.exists(_.getClass == rule.getClass))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
}
