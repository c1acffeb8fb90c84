package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** `graft_once(x) -> x`: the identity, marked nondeterministic so the
  * optimizer keeps its child in the projection that defines it
  * ([[graft.operators.Dedup.evaluateOnce]] wraps a column in it).
  * Without it, predicate pushdown moves a filter below the projection
  * that defines the column the filter reads and substitutes the defining
  * expression into the predicate: a gate over a stripped text column
  * would run the strip once more for every rule that reads it.
  * `PushPredicateThroughNonJoin` does not push a filter through a
  * `Project` holding a nondeterministic expression, and `CollapseProject`
  * does not inline one into its consumers, so every reader of the
  * projected column reads the attribute and the child runs once per row.
  * Its generated code is the child's, so it fuses into the surrounding
  * codegen stage: no extra stage, action or accumulator. */
case class Once(child: Expression) extends UnaryExpression with Nondeterministic {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_once"

  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): Once =
    copy(child = newChild)
}
