package graft.plans

import org.apache.spark.sql.GraftColumnBridge.normalizeFloats
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the declarative top-k-per-group idiom
  *
  *   Project(out..., Filter(rn <= k,
  *     Window([row_number() over (partition g order o) AS rn], g, o, child)))
  *
  * into the custom [[TopKPerGroup]] operator, so users who write the
  * standard window formulation get the partial/final map-side-pruned plan
  * for free (the window plan shuffles and sorts EVERY row; the rewrite
  * shuffles at most k per group per partition). Conditions: the filtered
  * attribute is exactly the row_number output, the bound is a literal,
  * and the projection does not keep the rank column (rank values are not
  * reproduced by the heap operator).
  *
  * Float/double group keys are normalized here: 0.0 and -0.0 (and the
  * NaN bit patterns) differ as raw key bytes, so the heap keys and the
  * hash distribution would split what SQL grouping treats as one group.
  * Spark's own NormalizeFloatingNumbers runs in a later batch than this
  * rule and does not know the new operator.
  */
object TopKRewriteRule extends Rule[LogicalPlan] {

  private object RankBound {
    /** Matches rn <= k / rn < k over an integer literal; yields k. The
      * k-1 is computed in Long: `rn < Int.MinValue` would otherwise wrap
      * to Int.MaxValue and rewrite an always-false filter into
      * top-everything-per-group. Out-of-range bounds just don't match —
      * the window plan keeps its (correct) semantics. */
    def unapply(e: Expression): Option[(Attribute, Int)] = {
      val m: Option[(Attribute, Long)] = e match {
        case LessThanOrEqual(a: Attribute, Literal(k: Int, _)) => Some((a, k.toLong))
        case LessThan(a: Attribute, Literal(k: Int, _)) => Some((a, k.toLong - 1))
        case GreaterThanOrEqual(Literal(k: Int, _), a: Attribute) => Some((a, k.toLong))
        case GreaterThan(Literal(k: Int, _), a: Attribute) => Some((a, k.toLong - 1))
        case _ => None
      }
      m.collect { case (a, k) if k > 0 && k <= Int.MaxValue => (a, k.toInt) }
    }
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Project(projectList,
        Filter(RankBound(rnAttr, k),
          Window(Seq(al @ Alias(WindowExpression(_: RowNumber,
              WindowSpecDefinition(partitionSpec, orderSpec, _)), _)),
            _, _, child, _)))
        if k > 0 &&
          al.exprId == rnAttr.exprId &&          // filter bounds THIS rank
          !projectList.exists(_.references.contains(rnAttr)) &&
          projectList.forall(_.references.subsetOf(child.outputSet)) =>
      Project(projectList,
        TopKPerGroup(partitionSpec.map(normalizeFloats), orderSpec, k, child))
  }
}
