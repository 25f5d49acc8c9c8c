package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{CommonExpressionDef, CommonExpressionId, CommonExpressionRef, Expression, LeafExpression, RuntimeReplaceable, Unevaluable, With}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** Common-subexpression factoring for derived columns probed by many
  * predicate arms.
  *
  * Catalyst's filter pushdown inlines a projected expression into
  * every arm that references it: a derived JSON column probed by four
  * JSON operators is constructed and parsed four times per row. Spark
  * solves this for its own rewrites (`Between`, `NullIf`, ...) with
  * the `With`/`CommonExpressionDef` machinery, but `With` can only be
  * built from RESOLVED expressions (its refs snapshot the def's
  * dataType). [[SharedDefs]] bridges the gap the same way Spark's own
  * surfaces do: a `RuntimeReplaceable` that carries the common
  * expressions as ordinary children through analysis, then replaces
  * itself with a real `With` — the optimizer's RewriteWithExpression
  * later splits that into a Project computing each common ONCE per
  * row, inside the same codegen stage.
  */
case class SharedDefs(pred: Expression, commons: Seq[Expression])
    extends Expression with RuntimeReplaceable {

  override def children: Seq[Expression] = pred +: commons

  override lazy val replacement: Expression = {
    // NoInline: RewriteWithExpression factors the defs into a Project,
    // but that Project is immediately re-destroyed by filter pushdown
    // (PushPredicateThroughNonJoin substitutes the alias into every
    // arm — the exact duplication With was meant to prevent) unless
    // the projected common is non-pushable
    val defs = commons.map(c => CommonExpressionDef(NoInline(c), CommonExpressionId()))
    val bound = pred.transform {
      case r: SharedRef =>
        val d = defs(r.index)
        new CommonExpressionRef(d.id, d.child.dataType, d.child.nullable)
    }
    With(bound, defs)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(pred = newChildren.head, commons = newChildren.tail.toSeq)
}

/** Pass-through marker that reports `deterministic = false` while
  * evaluating exactly its child: graft's one optimizer barrier.
  * Catalyst never pushes predicates through (or collapses away) a
  * projection with a non-deterministic field, and never lifts a
  * non-deterministic conjunct into join keys. Its three uses:
  *  - [[SharedDefs]]: a common expression stays factored in its own
  *    Project — computed once per row — instead of being substituted
  *    into every predicate arm;
  *  - `TextAnalysis.langMismatch`: the LangScores kernel stays in the
  *    scoring Project instead of being re-inlined into the mismatch
  *    Filter (scored twice per row);
  *  - `Analytics.q21`: the own-supplier equality stays a residual
  *    filter above the `l_orderkey` join instead of becoming a second
  *    join key (a compound-key re-exchange of the line stream).
  * Codegen delegates to the child, so the barrier costs nothing at
  * runtime. [[SharedExpr.noInline]] is the Column form.
  */
case class NoInline(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Placeholder leaf standing for the `index`-th common of the
  * enclosing [[SharedDefs]] until replacement; `declaredType` is the
  * type the arms type-check against pre-replacement (the true type is
  * re-derived from the resolved common at replacement time).
  */
case class SharedRef(index: Int, declaredType: DataType)
    extends LeafExpression with Unevaluable {
  override def dataType: DataType = declaredType
  override def nullable: Boolean = true
}

object SharedExpr {
  /** `c` behind the [[NoInline]] optimizer barrier. */
  def noInline(c: Column): Column = ColumnBridge.column(NoInline(ColumnBridge.expression(c)))

  /** Build `f` over refs to `commons` (each paired with the type its
    * consumers see pre-analysis): every common evaluates once per row
    * regardless of how many arms reference it.
    */
  def shared(commons: Seq[(Column, DataType)])(f: Seq[Column] => Column): Column = {
    val refs = commons.zipWithIndex.map { case ((_, dt), i) =>
      ColumnBridge.column(SharedRef(i, dt))
    }
    ColumnBridge.column(SharedDefs(
      ColumnBridge.expression(f(refs)),
      commons.map(c => ColumnBridge.expression(c._1))))
  }
}
