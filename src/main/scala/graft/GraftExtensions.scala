package graft

import graft.expressions.{CmsAgg, HllRegAgg, MinHashSig, MinHashTextSig, ShingleSet, SigAgree, SimHash128, VecDot, VecL2, VectorMeanAgg}
import graft.plans.AsOfStrategy
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Registers graft's native expressions as SQL functions, so the
  * engine's sketch primitives are first-class in `spark.sql(...)`,
  * and the as-of join's planner strategy, so every session built with
  * the extension (and every clone of one) plans `AsOfJoin`:
  *
  * {{{
  * spark = SparkSession.builder()
  *   .withExtensions(new GraftExtensions) ...
  * // or: spark.sql.extensions=graft.GraftExtensions
  * spark.sql("SELECT minhash_sig(shingle_set(text, 5), 32) FROM docs")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.registrations

  override def apply(ext: SparkSessionExtensions): Unit = {
    registrations.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsOfStrategy)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private[graft] val registrations: Seq[(FunctionIdentifier,
      ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("shingle_set"),
      new ExpressionInfo(classOf[ShingleSet].getName, "shingle_set"),
      (args: Seq[Expression]) =>
        ShingleSet(args.head, intArg(args(1), "shingle width"))),
    (new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) =>
        MinHashSig(args.head, intArg(args(1), "signature width"))),
    (new FunctionIdentifier("minhash_text"),
      new ExpressionInfo(classOf[MinHashTextSig].getName, "minhash_text"),
      (args: Seq[Expression]) => MinHashTextSig(args.head,
        intArg(args(1), "shingle width"), intArg(args(2), "signature width"))),
    (new FunctionIdentifier("simhash128"),
      new ExpressionInfo(classOf[SimHash128].getName, "simhash128"),
      (args: Seq[Expression]) => SimHash128(args.head)),
    (new FunctionIdentifier("vector_mean"),
      new ExpressionInfo(classOf[VectorMeanAgg].getName, "vector_mean"),
      (args: Seq[Expression]) =>
        VectorMeanAgg(args.head, intArg(args(1), "dimension"))),
    (new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => VecDot(args.head, args(1))),
    (new FunctionIdentifier("vec_l2"),
      new ExpressionInfo(classOf[VecL2].getName, "vec_l2"),
      (args: Seq[Expression]) => VecL2(args.head, args(1))),
    (new FunctionIdentifier("sig_agree"),
      new ExpressionInfo(classOf[SigAgree].getName, "sig_agree"),
      (args: Seq[Expression]) => SigAgree(args.head, args(1))),
    (new FunctionIdentifier("hll_registers"),
      new ExpressionInfo(classOf[HllRegAgg].getName, "hll_registers"),
      (args: Seq[Expression]) => HllRegAgg(args.head).toAggregateExpression()),
    (new FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(classOf[CmsAgg].getName, "cms_sketch"),
      (args: Seq[Expression]) => CmsAgg(args.head).toAggregateExpression()))

  /** Installs the functions and the as-of strategy into an
    * already-running session (when the session was not built with
    * `withExtensions`, its planner is already fixed, so the strategy
    * joins it as an extra strategy). */
  def installInto(session: org.apache.spark.sql.SparkSession): Unit = {
    registrations.foreach { case (ident, info, builder) =>
      session.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }
    session.experimental.extraStrategies :+= AsOfStrategy
  }
}
