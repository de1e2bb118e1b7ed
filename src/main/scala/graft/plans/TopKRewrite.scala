package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the ubiquitous
  *
  *   SELECT ... FROM (SELECT *, row_number() OVER
  *     (PARTITION BY g ORDER BY o) rn FROM t) WHERE rn <= k
  *
  * into the two-phase bounded-heap TopKPerGroup operator. Spark 3.5+'s
  * InferWindowGroupLimit already prunes rows below the Window, but still
  * pays the full per-partition window sort; this rewrite removes the
  * Window entirely (heap merge instead of sort). Only fires for small k
  * (heaps must stay bounded) and a lone row_number window expression.
  *
  * Installed by DEFAULT in every standard session (`Graft.init`, which
  * `GraftSession` and each `SparkEntry.queries` call run): any user
  * query in the rank-filter shape gets the bounded-heap
  * plan (measured 9.7× at sf10 vs the window sort). The off-switch is
  * `spark.graft.topk.rewrite=false` — the measured window baseline
  * (q_topk_per_group) runs under that flag. */
object TopKRewrite extends Rule[LogicalPlan] {
  private val maxK = 1000
  val confKey = "spark.graft.topk.rewrite"

  /** The rank reference as users actually write it: the raw row_number
    * attribute, or a lossless integral up-cast of it (`rn.cast("long")`
    * is the common oracle-schema-parity idiom). */
  private def rnRef(e: Expression, rn: Attribute): Boolean = e match {
    case a: Attribute => a.semanticEquals(rn)
    case c: Cast => c.dataType == org.apache.spark.sql.types.LongType &&
      rnRef(c.child, rn)
    case _ => false
  }

  /** rn <= k / rn < k / k >= rn / k > rn → Some(effective k). */
  private def limitOf(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a, IntegerLiteral(k)) if rnRef(a, rn) => Some(k)
    case LessThan(a, IntegerLiteral(k)) if rnRef(a, rn) => Some(k - 1)
    case GreaterThanOrEqual(IntegerLiteral(k), a) if rnRef(a, rn) => Some(k)
    case GreaterThan(IntegerLiteral(k), a) if rnRef(a, rn) => Some(k - 1)
    case EqualTo(a, IntegerLiteral(1)) if rnRef(a, rn) => Some(1)
    case _ => None
  }

  private object IntegerLiteral {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => Some(v)
      case Literal(v: Long, org.apache.spark.sql.types.LongType) if v <= Int.MaxValue => Some(v.toInt)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(confKey, "true").toBoolean) plan
    else plan.transformUp {
    case f @ Filter(cond,
        w @ Window(Seq(alias @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(part, order, _)), _)), _, _, wchild, _)) =>
      // strip a WindowGroupLimit Spark may already have inserted below
      val child = wchild match {
        case WindowGroupLimit(_, _, _, _, c) => c
        case c => c
      }
      val rn = alias.toAttribute
      limitOf(cond, rn) match {
        case Some(k) if k > 0 && k <= maxK && part.nonEmpty =>
          // TopKPerGroup output = child.output :+ rn — same as the Window's
          TopKPerGroup(part, order, k, rn, child)
        case _ => f
      }
  }
}
