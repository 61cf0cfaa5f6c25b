package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructType}

/** Native position-ordered double sum over an array of `(pos, lp)`
  * structs — the hot inner fold of the naive-Bayes apply stage (and of
  * any "reproducible double sum in explicit element order" consumer).
  *
  * Why a kernel when `aggregate(array_sort(collect_list(struct(pos,
  * lp))), 0.0, (acc, x) -> acc + x.lp)` expresses the same thing: HOF
  * lambdas evaluate INTERPRETED, one expression-tree walk per element,
  * and `array_sort` allocates a sorted copy with a per-comparison
  * interpreted struct comparator. Per (document, label) group that is
  * tokens × tree-walk work — the most JIT-sensitive shape in the suite
  * (the x174 1.6→2.1 s cross-JVM wobble). This expression does one
  * primitive-array extraction, one index sort, and one left-to-right
  * accumulation loop, in bytecode that whole-stage codegen calls
  * directly.
  *
  * Numeric contract (bit-parity with the HOF spelling, FunctionsSpec):
  * elements are ordered ascending by `(pos, lp)` — exactly
  * `array_sort`'s lexicographic struct order for these two fields —
  * and `lp` accumulates into a double left-to-right starting at 0.0.
  * An empty array sums to 0.0.
  *
  * Null contract: a null array ⇒ null; a null element or a null `lp`
  * ⇒ null (the HOF sorts nulls last and `acc + null` poisons the fold
  * — same observable result, pinned in the spec). A null `pos` is out
  * of contract (callers produce `pos` with `posexplode`): the kernel
  * returns null there, while the HOF, which reads only `lp`, would
  * return the sum.
  */
case class PosOrderedSum(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _)
        if st.length == 2 && st(0).dataType == IntegerType &&
          st(1).dataType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pos_sum expects array<struct<pos:int,lp:double>>, got " +
        other.catalogString)
  }

  override def nullSafeEval(input: Any): Any =
    PosOrderedSum.build(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val res = ctx.freshName("posSum")
      s"""
         |java.lang.Double $res = graft.functions.PosOrderedSum.build($arr);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PosOrderedSum =
    copy(child = newChild)

  override def prettyName: String = "graft_pos_sum"
}

object PosOrderedSum {
  /** Shared by interpreted eval and codegen; boxed Double or null (see
    * contract above). */
  def build(arr: ArrayData): java.lang.Double = {
    val n = arr.numElements()
    val pos = new Array[Int](n)
    val lp = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val s = arr.getStruct(i, 2)
      if (s.isNullAt(0) || s.isNullAt(1)) return null
      pos(i) = s.getInt(0)
      lp(i) = s.getDouble(1)
      i += 1
    }
    // index sort by (pos, lp) — the array_sort struct order. The boxed
    // index array is per-call garbage over a tokens-sized n; the win
    // over the HOF is removing per-ELEMENT interpreted tree walks, not
    // the sort allocation.
    val idx = new Array[Integer](n)
    i = 0
    while (i < n) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
      val c = java.lang.Integer.compare(pos(a.intValue()), pos(b.intValue()))
      if (c != 0) c
      else java.lang.Double.compare(lp(a.intValue()), lp(b.intValue()))
    })
    var acc = 0.0
    i = 0
    while (i < n) { acc += lp(idx(i).intValue()); i += 1 }
    java.lang.Double.valueOf(acc)
  }
}
