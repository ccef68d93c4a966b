package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._

/** SparkSessionExtensions entry point (SURVEY.md §2.H): registers the
  * `graft_cosine` and `graft_dot` SQL functions for user SQL.
  *
  * Usage: SparkSession.builder().withExtensions(new GraftExtensions) or
  * spark.sql.extensions=graft.plans.GraftExtensions. Installed by
  * GraftSession. The library's own queries do not need it: they place
  * the vector kernels in their plans directly (VectorExpressions.scala).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
  }
}
