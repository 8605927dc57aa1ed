package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.functions.VectorExpressions._

/** SQL registration of the engine's native expressions, so
  * `spark.sql("SELECT cosine_sim(a, b) ...")` works like any built-in.
  * [[graft.GraftExtensions]] injects [[all]] into every session built
  * with `--conf spark.sql.extensions=graft.GraftExtensions` (the standard
  * extension-library deployment on a shared cluster), which includes
  * every [[graft.GraftSession]] session — the mains and the test suite.
  */
object GraftFunctions {

  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$fn: argument $pos must be an integer literal, got $other")
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (args: Seq[Expression]) => CosineSim(args(0), args(1))),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    (FunctionIdentifier("l2_norm"),
      new ExpressionInfo(classOf[L2Norm].getName, "l2_norm"),
      (args: Seq[Expression]) => L2Norm(args(0))),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args(0))),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) =>
        WordShingles(args(0), intArg(args(1), "word_shingles", 2))),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) =>
        MinHashSig(args(0), intArg(args(1), "minhash_sig", 2))),
    (FunctionIdentifier("md5_minhash_sig"),
      new ExpressionInfo(classOf[Md5MinHashSig].getName, "md5_minhash_sig"),
      (args: Seq[Expression]) =>
        Md5MinHashSig(args(0), intArg(args(1), "md5_minhash_sig", 2))),
    (FunctionIdentifier("hilbert_key"),
      new ExpressionInfo(classOf[HilbertKey].getName, "hilbert_key"),
      (args: Seq[Expression]) =>
        // explicit widening so hilbert_key(3, 5, 4) — INT literals — works
        // instead of class-casting on the interpreted path
        HilbertKey(
          org.apache.spark.sql.catalyst.expressions.Cast(args(0), org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.catalyst.expressions.Cast(args(1), org.apache.spark.sql.types.LongType),
          intArg(args(2), "hilbert_key", 3))))
}
