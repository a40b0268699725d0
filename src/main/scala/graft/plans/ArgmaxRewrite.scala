package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, MaxBy, MinBy}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite the window-argmax idiom
  *
  *   `Filter(rn = 1, Window(rn := row_number() OVER (PARTITION BY k ORDER BY o DESC...)))`
  *
  * into the aggregate formulation
  *
  *   `max_by(struct(<child output>), struct(o...))` grouped by `k`
  *
  * (SURVEY §4.3). The window form shuffles EVERY row and sorts each
  * partition before discarding all but one row per group; the aggregate
  * form partial-aggregates map-side — one buffered row per (partition ×
  * group) crosses the exchange. At 100 TB this is the difference between
  * shuffling the fact table and shuffling one row per group.
  *
  * Fires only on the exact shape: a single row_number window expression,
  * a `rn = 1` / `1 = rn` / `rn <= 1` filter directly above it, a non-empty
  * PARTITION BY (the global-window case is excluded: over an empty input
  * the window form yields 0 rows but a grouping-less aggregate yields 1 —
  * see the guard), a non-empty order spec with ALL Descending (argmax → max_by) or ALL Ascending
  * (argmin → min_by) directions, and NULLS LAST on every key (the
  * default for desc; asc requires explicit `asc_nulls_last`). Null
  * semantics are preserved by ordering on (null-flag, key) pairs: for
  * max_by the flag is `key IS NOT NULL` so any non-null key beats every
  * null; for min_by it is `key IS NULL` so null keys order above all
  * values; a group whose keys are ALL null still returns one of its real
  * rows (all flag-structs compare equal), exactly like the window form.
  * Tie-breaking among equal order keys is arbitrary in BOTH forms
  * (distributed row_number ties depend on partition order), so the
  * rewrite preserves semantics exactly when the ordering is total — same
  * caveat the window form already carries.
  *
  * Output attributes (including the rn column, rewritten to literal 1)
  * keep their original exprIds, so upstream operators resolve unchanged.
  *
  * Register per-session via `spark.experimental.extraOptimizations` or
  * globally with `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object ArgmaxRewrite extends Rule[LogicalPlan] {

  private def isRnOne(cond: Expression, rn: Attribute): Boolean = cond match {
    case EqualTo(a: Attribute, IntegerLiteral(1)) => a.semanticEquals(rn)
    case EqualTo(IntegerLiteral(1), a: Attribute) => a.semanticEquals(rn)
    case LessThanOrEqual(a: Attribute, IntegerLiteral(1)) => a.semanticEquals(rn)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Filter(cond,
      Window(Seq(alias @ Alias(WindowExpression(RowNumber(), spec), _)),
        partitionSpec, orderSpec, child, _))
      // partitionSpec.nonEmpty: the global (unpartitioned) window over an
      // EMPTY input yields 0 rows, but a grouping-less Aggregate yields 1
      // row (max_by of empty = null struct) — the rewrite would invent a
      // spurious all-null row, so the global case stays on the window path.
      if partitionSpec.nonEmpty && orderSpec.nonEmpty && spec.orderSpec == orderSpec &&
        isRnOne(cond, alias.toAttribute) &&
        (orderSpec.forall(_.direction == Descending) ||
          orderSpec.forall(_.direction == Ascending)) &&
        orderSpec.forall(_.nullOrdering == NullsLast) &&
        partitionSpec.forall(_.deterministic) &&
        orderSpec.forall(_.child.deterministic) =>

      // InferWindowGroupLimit may already have inserted a per-partition
      // top-1 pre-prune below the window; the aggregate needs no sorted
      // pre-prune (max_by partial-aggregates), so strip it.
      val base = child match {
        case wgl: WindowGroupLimit if wgl.limit == 1 &&
          wgl.partitionSpec == partitionSpec && wgl.orderSpec == orderSpec => wgl.child
        case other => other
      }
      val isMax = orderSpec.head.direction == Descending
      val payload = CreateStruct(base.output)
      // (null-flag, key) pairs reproduce NULLS LAST exactly — see scaladoc
      val ordering = CreateStruct(orderSpec.flatMap { so =>
        val flag = if (isMax) IsNotNull(so.child) else IsNull(so.child)
        Seq(flag, so.child)
      })
      val aggFn = if (isMax) MaxBy(payload, ordering) else MinBy(payload, ordering)
      val rowAlias = Alias(AggregateExpression(aggFn, Complete, isDistinct = false), "_argmax_row")()
      val agg = Aggregate(partitionSpec, Seq(rowAlias), base)
      // restore the original output attributes (same exprIds) from the
      // struct, plus the rn column as literal 1
      val restored = child.output.zipWithIndex.map { case (a, i) =>
        Alias(GetStructField(rowAlias.toAttribute, i, Some(a.name)), a.name)(exprId = a.exprId)
      }
      val rnOut = Alias(Literal(1, IntegerType), alias.name)(exprId = alias.exprId)
      Project(restored :+ rnOut, agg)
  }
}

/** `spark.sql.extensions` entry point injecting graft's optimizer rules,
  * its physical rule and its SQL functions: the codegen'd vector/set
  * kernels become callable from plain `spark.sql(...)` (`graft_cosine`,
  * `graft_dot`, `graft_pack_int8`, `graft_byte_dot`,
  * `graft_sorted_intersect_size`, `graft_nfc`) — SQL users get the same
  * native Expressions the Scala API uses, not UDF wrappers.
  *
  * The physical rule is [[BindFilterLiterals]]: filter comparisons against
  * int, long, date and timestamp literals read the value from the compiled
  * class instead of inlining it, so a dashboard query re-run with new
  * parameters reuses its generated classes. A physical rule can only be
  * injected while a session is built: `Session.get` builds with these
  * extensions, and a session built elsewhere needs
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or `withExtensions`)
  * at build time — `Session.tune` alone installs the optimizer rules and
  * functions, not the physical rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // ArgmaxRewrite is safe inside the operator fixed-point batch (its
    // aggregate output retriggers nothing). CseFilterProject is NOT:
    // inside that batch PushDownPredicates re-pushes the filter through
    // the new lower Project (re-inlining the kernel via alias
    // substitution) and CollapseProject re-merges the split projections —
    // exactly undoing the rewrite every iteration, so the batch churns to
    // its iteration cap and the final single-vs-double kernel state
    // depends on intra-batch rule order. injectPreCBORule is no better:
    // the later "Pushdown Filters from PartitionPruning" batch
    // (PushPredicateThroughNonJoin) would undo the split the same way.
    // The only batch that runs after EVERY pushdown is "User Provided
    // Optimizers" (experimental methods), so the builder — invoked when
    // the session's optimizer assembles its batches, i.e. after session
    // state exists — registers CseFilterProject there instead.
    ext.injectOptimizerRule { session =>
      // synchronized: two queries optimizing concurrently on a fresh
      // session can both pass the contains check and append the rule
      // twice (idempotent for results via isCseSplit, but the duplicate
      // entry would double rule invocations forever)
      session.experimental.synchronized {
        if (!session.experimental.extraOptimizations.contains(CseFilterProject))
          session.experimental.extraOptimizations =
            session.experimental.extraOptimizations :+ CseFilterProject
      }
      ArgmaxRewrite
    }
    ext.injectColumnar(_ => BindFilterLiterals.columnar)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
  import graft.functions.{ByteDotProduct, CosineSimilarity, DotProduct, NfcNormalize, PackInt8, SortedIntersectSize}

  private def binary(name: String, make: (Expression, Expression) => Expression,
                     clazz: Class[_]) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"$name expects 2 arguments, got ${args.length}")
        make(args(0), args(1))
      })

  /** Register a unary expression-tree builder (the Text curation kernels
    * expose their catalyst form — e.g. [[graft.functions.Text.bpeTokensExpr]]
    * — which the Column API wraps) under a SQL name: one definition behind
    * both surfaces, so SQL text can never drift from the Scala API.
    */
  private def unaryComposed(name: String, make: Expression => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo("graft.functions.Text", name),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"$name expects 1 argument, got ${args.length}")
        make(args.head)
      })

  private[graft] val functions = Seq(
    binary("graft_cosine", CosineSimilarity.apply, classOf[CosineSimilarity]),
    binary("graft_dot", DotProduct.apply, classOf[DotProduct]),
    binary("graft_byte_dot", ByteDotProduct.apply, classOf[ByteDotProduct]),
    binary("graft_sorted_intersect_size", SortedIntersectSize.apply,
      classOf[SortedIntersectSize]),
    (FunctionIdentifier("graft_pack_int8"),
      new ExpressionInfo(classOf[PackInt8].getName, "graft_pack_int8"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"graft_pack_int8 expects 1 argument, got ${args.length}")
        PackInt8(args.head)
      }),
    (FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"graft_nfc expects 1 argument, got ${args.length}")
        NfcNormalize(args.head)
      }),
    // the token counters the budget selectors consume (VERDICT r11 #7),
    // callable from SQL text so a pure-SQL front-end can state the
    // s5k/s5i relations (the distributed prefix-sum OPERATOR stays Scala
    // — its two-level shape is a plan, not an expression; the SQL form is
    // the window idiom the s5l row exercises)
    unaryComposed("graft_bpe_tokens", graft.functions.Text.bpeTokensExpr),
    unaryComposed("graft_ws_tokens", graft.functions.Text.wsTokensExpr))

  /** Register the functions on an ALREADY-RUNNING session (the extensions
    * path needs the conf set before session construction).
    */
  def registerFunctions(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
