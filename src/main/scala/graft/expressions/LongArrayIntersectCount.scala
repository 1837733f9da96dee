package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** |a ∩ b| for two long-array columns with distinct elements.
  *
  * Semantically `size(array_intersect(a, b))`, but ArrayIntersect
  * materializes the intersection array per row; the Jaccard hot loops
  * (MinHash verification, blocked all-pairs) only need the count. Builds
  * one hash set over the smaller side and probes the larger — no result
  * array, primitive access throughout.
  *
  * Contract: elements are non-null and distinct per array (the
  * shingleHashes invariant). With duplicate elements the count follows
  * the probe side, unlike array_intersect's dedup.
  */
case class LongArrayIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression with CpuDenseKernel {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LongArrayIntersectCount.count(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val cls = classOf[LongArrayIntersectCount].getName
      s"${ev.value} = $cls.count($x, $y);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongArrayIntersectCount =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_intersect_count"
}

object LongArrayIntersectCount {
  /** Static entry for generated code. */
  def count(x: ArrayData, y: ArrayData): Int = {
    val (small, large) = if (x.numElements() <= y.numElements()) (x, y) else (y, x)
    val set = new java.util.HashSet[Long](small.numElements() * 2)
    var i = 0
    while (i < small.numElements()) { set.add(small.getLong(i)); i += 1 }
    var c = 0
    var j = 0
    while (j < large.numElements()) {
      if (set.contains(large.getLong(j))) c += 1
      j += 1
    }
    c
  }
}
