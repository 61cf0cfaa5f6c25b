package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A constant that generated code reads through a reference held by the
  * generated class instead of inlining it as a literal — for constants
  * that change between executions of one plan, such as the current time,
  * which streaming fixes per micro-batch. Inlined, each new value is new
  * Java source: every micro-batch generated and compiled its classes
  * anew. Read through a reference, the source is the same every batch
  * and the compiled class is reused; the value stays constant within a
  * batch (streaming) or a query (batch).
  *
  * The child must read no column; the optimizer folds it to a literal
  * before code generation (streaming first replaces its batch timestamp
  * by a literal). The expression is `Nondeterministic` — its value is
  * not a function of the row, and it keeps the optimizer from copying
  * the expressions above it into pushed-down filters.
  */
case class ReferencedConstant(child: Expression)
    extends UnaryExpression with Nondeterministic {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_referenced_constant"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.references.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_referenced_constant takes an argument that reads no column")

  @transient private var value: Any = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    value = child.eval()

  override protected def evalInternal(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftConstant", child.eval(),
      CodeGenerator.boxedType(dataType))
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      boolean ${ev.isNull} = $ref == null;
      $javaType ${ev.value} = ${ev.isNull} ?
        ${CodeGenerator.defaultValue(dataType)} : $ref;""")
  }

  override protected def withNewChildInternal(newChild: Expression): ReferencedConstant =
    copy(child = newChild)
}
