package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, Expression, GetStructField, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import scala.collection.immutable.BitSet

/** Computes only the members of a multi-output window kernel that the
  * query reads. Catalyst prunes struct fields it never reads, but not
  * inside a kernel: `catch22` read for 7 of its 22 members still computes
  * all 22 per window. This rule narrows such a kernel
  * ([[Kernel.narrow]]) to the members read.
  *
  * It matches one local pattern, the one Spark's nested-column aliasing
  * leaves above a struct it reads in part: a `Project` directly above a
  * `Project` or `Aggregate` that aliases a narrowable [[WindowKernel]] as
  * `a` (`CollapseProject` does not merge the two, since that would repeat
  * the kernel). A `Project`'s output is exactly its list, so the upper
  * list holds every use of `a`. When every use there is a field `a.f`,
  * the kernel computes those fields only; the struct type stays the same
  * and the unread fields come back null. Any other use — `a` itself, `a`
  * passed up to a parent, a plan that is not Project-over-definition —
  * keeps the whole kernel. So does a single field read, which Spark
  * collapses to `kernel(x).f` with no alias.
  *
  * Installed once per session by [[install]]; `calculate` and the keyed
  * entry points call it. Excluding `graft.expr.NarrowKernels` through
  * `spark.sql.optimizer.excludedRules` turns it off.
  */
object NarrowKernels extends Rule[LogicalPlan] {

  /** Adds the rule to the session's extra optimizations, once. */
  def install(spark: SparkSession): Unit = {
    val ex = spark.experimental
    ex.synchronized {
      if (!ex.extraOptimizations.contains(this))
        ex.extraOptimizations = ex.extraOptimizations :+ this
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.exists(_.expressions.exists(_.exists(narrowable)))) plan
    else plan.transformUp {
      case up @ Project(reads, lower: Project) =>
        val defs = narrowDefs(reads, lower.projectList)
        if (defs == lower.projectList) up
        else up.copy(child = lower.copy(projectList = defs))
      case up @ Project(reads, lower: Aggregate) =>
        val defs = narrowDefs(reads, lower.aggregateExpressions)
        if (defs == lower.aggregateExpressions) up
        else up.copy(child = lower.copy(aggregateExpressions = defs))
    }

  private def narrowable(e: Expression): Boolean = e match {
    case k: WindowKernel => k.kernel.narrowable
    case _ => false
  }

  /** `defs` with each aliased narrowable kernel narrowed to the fields
    * `reads` takes of it. */
  private def narrowDefs(reads: Seq[Expression],
                         defs: Seq[NamedExpression]): Seq[NamedExpression] =
    defs.map {
      case a @ Alias(k: WindowKernel, _) if k.kernel.narrowable =>
        fieldsRead(reads, a.exprId).fold(a: NamedExpression)(fs =>
          a.withNewChildren(Seq(k.narrow(fs))).asInstanceOf[NamedExpression])
      case d => d
    }

  /** The struct fields `exprs` read of attribute `id`, or None when some
    * use reads it whole. */
  private def fieldsRead(exprs: Seq[Expression], id: ExprId): Option[BitSet] = {
    def go(e: Expression): Option[BitSet] = e match {
      case GetStructField(a: Attribute, i, _) if a.exprId == id => Some(BitSet(i))
      case a: Attribute if a.exprId == id => None
      case _ => all(e.children)
    }
    def all(es: Seq[Expression]): Option[BitSet] =
      es.foldLeft(Option(BitSet.empty))((acc, e) => acc.flatMap(s => go(e).map(s | _)))
    all(exprs)
  }
}
