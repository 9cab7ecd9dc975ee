package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{BpeApply, CountMinEstimate, DotProductLong, MinHashWindows, MinShingleMd5, ShingleSet, SimHash16, TopKByLong}

/** Session extensions: the engine's native functions for SQL use, the
  * MV-substitution optimizer rule ([[graft.plans.RewriteToMv]]) and the
  * native as-of join strategy ([[graft.plans.AsOfJoinStrategy]]).
  * Installed only by [[GraftSession.builder]]
  * (`spark.sql.extensions=graft.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.{litInt, builders}

  override def apply(e: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, b) =>
      e.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(getClass.getName, name), b))
    }
    e.injectOptimizerRule(s => new graft.plans.RewriteToMv(s))
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {

  private def litInt(e: Expression, arg: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$arg must be an integer literal, got $other")
  }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_product_long" -> (exprs => DotProductLong(exprs.head, exprs(1))),
    "min_shingle_md5" -> (exprs =>
      MinShingleMd5(exprs.head, litInt(exprs(1), "shingle size"))),
    "shingle_set" -> (exprs =>
      ShingleSet(exprs.head, litInt(exprs(1), "shingle size"))),
    "min_hash_windows" -> (exprs =>
      MinHashWindows(exprs.head, litInt(exprs(1), "salts"), litInt(exprs(2), "windows"))),
    "simhash16" -> (exprs => SimHash16(exprs.head)),
    "bpe_apply" -> (exprs => BpeApply(exprs.head, exprs(1))),
    "cms_estimate" -> (exprs => CountMinEstimate(exprs.head, exprs(1))),
    "topk_by" -> (exprs =>
      TopKByLong(exprs.head, exprs(1), litInt(exprs(2), "k"))
        .toAggregateExpression()))
}
