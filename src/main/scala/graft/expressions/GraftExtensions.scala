package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point (`spark.sql.extensions=graft.expressions.
  * GraftExtensions`): registers the native graft expressions with the
  * session's function registry so both the DataFrame API (`expr(...)`)
  * and `spark.sql` can call them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {

  private type Descriptor = (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression)

  private val descriptors: Seq[Descriptor] = Seq(
    (new FunctionIdentifier("qcosine"),
      new ExpressionInfo(classOf[QCosine].getName, "qcosine"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "qcosine(qa, qb, nsqa, nsqb)")
        QCosine(args(0), args(1), args(2), args(3))
      }),
    (new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "sorted_intersect_count(a, b)")
        SortedIntersectCount(args(0), args(1))
      }),
    (new FunctionIdentifier("morton2"),
      new ExpressionInfo(classOf[Morton2].getName, "morton2"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "morton2(x, y)")
        Morton2(args(0), args(1))
      }),
    (new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "jaro_winkler(a, b)")
        JaroWinkler(args(0), args(1))
      }),
    (new FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimhashSig].getName, "simhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash_sig(h)")
        // Raw AggregateFunction: the analyzer wraps it in an
        // AggregateExpression (standard registry convention).
        SimhashSig(args.head)
      }))
}
