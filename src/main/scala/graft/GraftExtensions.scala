package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** SQL-surface registration of the library's native functions via the
  * standard extension point: add
  * `spark.sql.extensions=graft.GraftExtensions` to the session config (or
  * call [[GraftExtensions.install]] on a live session) and
  * `SELECT tokenize(text)` works in plain SQL, planned as the codegen
  * StaticInvoke expression (no UDF).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.tokenizeDescriptor)
    ext.injectFunction(GraftExtensions.chunkFingerprintsDescriptor)
    ext.injectFunction(GraftExtensions.vecDotDescriptor)
    ext.injectOptimizerRule(_ => ApproxDistinctRule)
  }
}

object GraftExtensions {

  val tokenizeDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("tokenize"),
    new ExpressionInfo(classOf[GraftExtensions].getName, "tokenize"),
    graft.functions.Tokenize.tokenizeExpr)

  private def chunkFingerprintsExpr(args: Seq[Expression]): Expression =
    StaticInvoke(
      graft.functions.RollingHash.getClass,
      ArrayType(LongType),
      "chunkHashes",
      args,
      Seq(StringType))

  val chunkFingerprintsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("chunk_fingerprints"),
    new ExpressionInfo(classOf[GraftExtensions].getName, "chunk_fingerprints"),
    chunkFingerprintsExpr)

  val vecDotDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[GraftExtensions].getName, "vec_dot"),
    (args: Seq[Expression]) => graft.functions.VecDot(args(0), args(1)))

  /** Register on an already-running session (same effect as the extension
    * config for sessions created before the library was on the classpath).
    */
  def install(spark: SparkSession): Unit = {
    for ((id, info, builder) <- Seq(tokenizeDescriptor, chunkFingerprintsDescriptor,
        vecDotDescriptor))
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    if (!spark.experimental.extraOptimizations.contains(ApproxDistinctRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ ApproxDistinctRule
  }
}
