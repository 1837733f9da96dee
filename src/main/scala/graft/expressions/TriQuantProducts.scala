package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Compiled kernel behind `graft_tri_products`: the quantized
  * upper-triangle products of an embedding vector with itself —
  * (i, j, round(xᵢ·xⱼ·1e9)) for 0 ≤ i ≤ j < d — the per-row input of
  * the exact covariance / PCA machinery (q191/q192).
  *
  * Replaces a nested `transform(sequence, transform(sequence, …))`
  * HOF chain: higher-order lambdas evaluate INTERPRETED per element
  * (d²/2 boxed element_at calls and struct allocations per row — the
  * round-1 5–40× trap, measured again here: q191 4.7 s → sub-second at
  * sf0.1). The arithmetic is bit-identical: the product is computed in
  * double exactly as the CAST(x AS DOUBLE) chain did, and rounding
  * replicates Spark's `round(double)` semantics (shortest-decimal
  * BigDecimal, HALF_UP) — which is what the DuckDB oracle's round()
  * matches on the gated data. A spec pins kernel ≡ HOF on the real
  * corpus plus seeded stress vectors.
  */
object TriProductsKernel {

  /** Spark Round-on-double semantics: decimal(v) (shortest decimal
    * representation), setScale(0, HALF_UP), back to double, then the
    * double→long cast.
    */
  def roundQ(v: Double): Long =
    BigDecimal.decimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP)
      .toDouble.toLong

  def tri(arr: ArrayData, isFloat: Boolean): ArrayData = {
    val d = arr.numElements()
    val xs = new Array[Double](d)
    var t = 0
    while (t < d) {
      xs(t) = if (isFloat) arr.getFloat(t).toDouble else arr.getDouble(t)
      t += 1
    }
    val out = new Array[Any](d * (d + 1) / 2)
    var k = 0
    var i = 0
    while (i < d) {
      val xi = xs(i)
      var j = i
      while (j < d) {
        out(k) = new GenericInternalRow(
          Array[Any](i.toLong, j.toLong, roundQ(xi * xs(j) * 1e9)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_tri_products(vec)` → array<struct<i:bigint, j:bigint,
  * pq:bigint>>: quantized upper-triangle self-products (see
  * [[TriProductsKernel]]).
  */
case class TriQuantProducts(child: Expression) extends UnaryExpression {

  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("j", LongType, nullable = false),
    StructField("pq", LongType, nullable = false))), containsNull = false)

  override protected def nullSafeEval(a: Any): Any =
    TriProductsKernel.tri(a.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.expressions.TriProductsKernel.tri($a, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): TriQuantProducts =
    copy(child = newChild)

  override def prettyName: String = "graft_tri_products"
}
