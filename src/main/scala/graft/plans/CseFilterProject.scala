package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: stop threshold filters from re-evaluating their
  * expensive verify kernels.
  *
  * Every similarity family here ends the same way: compute a score in a
  * projection, filter on it, emit it —
  *
  *   `select(..., kernel(a, b) AS score).filter(score >= t)`
  *
  * Catalyst's predicate pushdown substitutes the alias and moves the
  * filter below the projection, leaving
  *
  *   `Project(kernel AS score, Filter(kernel >= t, child))`
  *
  * — the kernel (levenshtein, merge-intersect, cosine, a lambda pipeline)
  * now runs TWICE per surviving row: once in the filter, once in the
  * projection. Measured r14 (the old `Dataset.count()` bench action had
  * hidden the projection side entirely): d9's plan carries two
  * `levenshtein` calls, and the honest re-capture moved every
  * verify-shaped row up by roughly its kernel cost.
  *
  * This rule runs in the user batch (after pushdown has settled) and
  * rewrites the shape to evaluate the kernel ONCE below the filter:
  *
  *   `Project(score := _cse, Filter(_cse >= t, Project(child.* + kernel AS _cse, child)))`
  *
  * Correctness: only subexpressions that appear in BOTH the projection
  * and the filter condition are extracted — the filter already evaluated
  * them on every input row, so hoisting below the filter adds no new
  * evaluation context (same rows, same failure modes) and removes the
  * per-surviving-row re-evaluation. Everything extracted must be
  * deterministic. Cost: old = N_input (filter) + N_pass (project)
  * kernel evaluations; new = N_input — strictly fewer whenever anything
  * passes.
  *
  * "Expensive" = the subtree contains a Levenshtein, a higher-order
  * function (lambda pipelines are interpreted, not codegen'd), or one of
  * graft's native kernels (`graft.functions.*`) — the expression classes
  * whose per-row cost dwarfs an extra column's bookkeeping. Cheap
  * common subexpressions are left alone: the split projection would cost
  * more in plan depth than it saves.
  *
  * Registered ONLY via `experimental.extraOptimizations` (the final "User
  * Provided Optimizers" batch) — by Session.get/tune directly, and by
  * [[GraftExtensions]] through its check-rule builder. It must NOT run
  * inside the operator fixed-point batch: PushDownPredicates re-pushes the
  * filter through the inserted lower Project (re-inlining the kernel) and
  * CollapseProject re-merges the split, undoing the rewrite every
  * iteration. PlansSpec pins the single-kernel plan under both
  * registration paths and result identity with the rule off.
  */
object CseFilterProject extends Rule[LogicalPlan] with PredicateHelper {

  /** The expression CLASSES worth de-duplicating across operators. */
  private def isCore(e: Expression): Boolean = e match {
    case _: Levenshtein => true
    case _: HigherOrderFunction => true
    case other => other.getClass.getName.startsWith("graft.")
  }

  /** Already-split shape: the lower projection this rule inserts carries
    * `_cseN` aliases. Recognizing it makes the rule idempotent by
    * construction (the substituted fields/cond no longer contain the
    * kernels, so `rewrite` would return None anyway — this guard just
    * skips the re-scan and is robust to a later batch re-collapsing only
    * PART of the shape).
    */
  private def isCseSplit(child: LogicalPlan): Boolean = child match {
    case Project(fields, _) => fields.exists {
      case a: Alias => a.name.startsWith("_cse")
      case _ => false
    }
    case _ => false
  }

  /** Maximal deterministic subtrees of `field` that contain an expensive
    * core AND appear (semantically) inside `cond`.
    */
  private def shared(field: Expression, cond: Expression): Seq[Expression] =
    if (field.deterministic && field.exists(isCore) &&
        cond.exists(_.semanticEquals(field))) Seq(field)
    else field.children.flatMap(c => shared(c, cond))

  private def dedupe(es: Seq[Expression]): Seq[Expression] =
    es.foldLeft(Vector.empty[Expression]) { (acc, e) =>
      if (acc.exists(_.semanticEquals(e))) acc else acc :+ e
    }

  /** `Project(fields', Filter(cond', Project(base.* + kernels, base)))`
    * when `fields` and `cond` share expensive kernels; None otherwise.
    */
  private def rewrite(fields: Seq[NamedExpression], cond: Expression,
                      base: LogicalPlan): Option[LogicalPlan] = {
    val distinctE = dedupe(fields.flatMap {
      case Alias(ae, _) => shared(ae, cond)
      case _ => Seq.empty
    })
    if (distinctE.isEmpty) None
    else {
      val pairs: Seq[(Expression, Alias)] = distinctE.zipWithIndex.map {
        case (e, i) => (e, Alias(e, s"_cse$i")())
      }
      def sub(x: Expression): Expression = x.transformUp {
        case s if pairs.exists(_._1.semanticEquals(s)) =>
          pairs.find(_._1.semanticEquals(s)).get._2.toAttribute
      }
      val lower = Project(base.output ++ pairs.map(_._2), base)
      Some(Project(fields.map(fl => sub(fl).asInstanceOf[NamedExpression]),
        Filter(sub(cond), lower)))
    }
  }

  /** A conjunct that IS an equi-join key (each side evaluable against
    * exactly one, opposite, join child): pulling it out of the join
    * condition would demote the hash/sort-merge join to a cartesian
    * product with a post-filter — catastrophic at scale even though
    * results stay identical. Such conjuncts stay on the join even when
    * kernel-bearing (`kernel(l) = kernel(r)` keys the join; the
    * projection-side duplicate is the lesser cost). Literal-vs-kernel
    * equalities (`kernel(l) = 5`) are NOT keys — both references must be
    * non-empty.
    */
  private def isEquiJoinKey(c: Expression, l: LogicalPlan, r: LogicalPlan): Boolean = {
    def opposite(a: Expression, b: Expression): Boolean =
      a.references.nonEmpty && b.references.nonEmpty &&
        ((a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet)) ||
          (a.references.subsetOf(r.outputSet) && b.references.subsetOf(l.outputSet)))
    c match {
      case EqualTo(a, b) => opposite(a, b)
      case EqualNullSafe(a, b) => opposite(a, b)
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // Filter shape: the predicate sits directly below the projection
    case p @ Project(fields, Filter(cond, child))
        if cond.deterministic && !isCseSplit(child) =>
      rewrite(fields, cond, child).getOrElse(p)

    // Join shape: pushdown folded the kernel predicate INTO an inner
    // join's condition (`Join ... condition: kernel >= t`) while the
    // projection above recomputes the kernel. Pull the kernel-bearing
    // conjuncts back out as a Filter (inner join + filter ≡ join with
    // condition — equi keys and cheap conjuncts stay on the join), then
    // apply the same single-evaluation split. Kernel evaluations per
    // matched row: was 2 (condition + projection), now 1.
    case p @ Project(fields, j @ Join(l, r, Inner, Some(cond), hint))
        if cond.deterministic =>
      val conjuncts = splitConjunctivePredicates(cond)
      val hot = dedupe(fields.flatMap {
        case Alias(ae, _) =>
          conjuncts.flatMap(c => shared(ae, c))
        case _ => Seq.empty
      })
      if (hot.isEmpty) p
      else {
        val (pulled, kept) = conjuncts.partition(c =>
          !isEquiJoinKey(c, l, r) &&
            hot.exists(h => c.exists(_.semanticEquals(h))))
        if (pulled.isEmpty) p
        else {
          val newJoin = Join(l, r, Inner, kept.reduceOption(And), hint)
          rewrite(fields, pulled.reduce(And), newJoin).getOrElse(p)
        }
      }
  }
}
