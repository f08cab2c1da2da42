package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions hook exposing the engine's custom expressions to
  * SQL. Activate with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (done by the engine's entry points and test fixture); SQL users then get
  *
  * {{{ SELECT jaccard_sorted(sort_array(array_distinct(a)),
  *                           sort_array(array_distinct(b))) }}}
  *
  * with the same codegen merge-walk the DataFrame path uses.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Optimizer half of the extension story: every `jaccard_sorted >= τ`
    // predicate — ad-hoc SQL included — gets the implied length-ratio
    // prefilter planted ahead of the merge-walk (see JaccardLengthPrune).
    ext.injectOptimizerRule(_ => graft.plans.JaccardLengthPrune)
    // Planner half: `ops/Prefix`'s bucket-offsets node runs as one
    // physical operator (see PrefixOffsets).
    ext.injectPlannerStrategy(_ => graft.plans.PrefixOffsetsStrategy)
    ext.injectFunction((
      new FunctionIdentifier("jaccard_sorted"),
      new ExpressionInfo(classOf[JaccardSorted].getName, "jaccard_sorted"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "jaccard_sorted(arrayA, arrayB)")
        JaccardSorted(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "dot_product(arrayA, arrayB)")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("hilbert_index"),
      new ExpressionInfo(classOf[HilbertIndex].getName, "hilbert_index"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "hilbert_index(xGrid, yGrid)")
        HilbertIndex(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("hilbert3_index"),
      new ExpressionInfo(classOf[Hilbert3Index].getName, "hilbert3_index"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 3, "hilbert3_index(xGrid, yGrid, zGrid)")
        Hilbert3Index(children.head, children(1), children(2))
      }))
  }
}
