package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSimilarity, DotProduct, MinhashSig, RollingHash, ShingleSet, SimhashSig, TokenCounts}

/** SparkSessionExtensions entry point: makes the engine's custom
  * Catalyst expressions available to pure-SQL users
  * (`--conf spark.sql.extensions=graft.GraftExtensions`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    e.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

/** Registration on an already-running session (the extensions config
  * only applies at session construction). */
object GraftFunctions {

  /** Argument-count check with a message naming the function — without
    * it, SQL like `minhash_sig(arr)` dies in `exprs(1)` with an
    * IndexOutOfBoundsException instead of an arity error. */
  def arity(exprs: Seq[Expression], fn: String, lo: Int, hi: Int): Unit =
    if (exprs.length < lo || exprs.length > hi)
      throw new IllegalArgumentException(
        s"$fn expects ${if (lo == hi) s"$lo" else s"$lo to $hi"} argument(s), got ${exprs.length}")

  /** Validates a constant integer SQL argument with a message naming
    * the function — `eval().asInstanceOf[Int]` on a column or a BIGINT
    * literal would otherwise fail with an opaque cast/unresolved
    * error. */
  def intLiteralArg(e: Expression, fn: String, arg: String): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: $arg must be a constant integer, got non-constant ${e.sql}")
    e.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a constant integer, got $other")
    }
  }

  private[graft] type Builder = (String, Class[_ <: Expression], Seq[Expression] => Expression)

  /** One builder per SQL name with its argument-count check; the
    * extension entry point and `register` both read this table. */
  private[graft] val builders: Seq[Builder] = {
    def fn(name: String, cls: Class[_ <: Expression], lo: Int, hi: Int)(
        build: Seq[Expression] => Expression): Builder =
      (name, cls, (exprs: Seq[Expression]) => {
        arity(exprs, name, lo, hi); build(exprs) })
    Seq(
      fn("cosine_sim", classOf[CosineSimilarity], 2, 2)(
        e => CosineSimilarity(e(0), e(1))),
      fn("rolling_hash", classOf[RollingHash], 1, 1)(e => RollingHash(e.head)),
      fn("dot_product", classOf[DotProduct], 2, 2)(e => DotProduct(e(0), e(1))),
      fn("shingle_set", classOf[ShingleSet], 1, 2)(e =>
        if (e.length > 1) ShingleSet(e.head, intLiteralArg(e(1), "shingle_set", "n"))
        else ShingleSet(e.head)),
      fn("token_counts", classOf[TokenCounts], 1, 1)(e => TokenCounts(e.head)),
      fn("minhash_sig", classOf[MinhashSig], 2, 2)(e =>
        MinhashSig(e.head, intLiteralArg(e(1), "minhash_sig", "numHashes"))),
      fn("simhash_sig", classOf[SimhashSig], 1, 1)(e => SimhashSig(e.head)))
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
