package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Compiled kernels behind `graft_pairs_long` / `graft_cross_long`:
  * index-ordered pair expansion of long arrays — the per-group
  * generator behind co-occurrence counting (q202/q222/q306) and the
  * in-bucket candidate enumeration (Dedup.bucketPairs*).
  *
  * Replaces the `flatten(transform(xs, (x, i) -> transform(slice(xs,
  * i + 2, size(xs)), …)))` HOF chains: nested higher-order lambdas
  * evaluate INTERPRETED per element with re-evaluated `slice` calls
  * that COPY the array tail once per outer index — O(n²) copies on
  * top of the O(n²) output (the q278 ArrayTriples lesson, applied to
  * the pair shape). One compiled pass, structs allocated directly.
  */
object ArrayPairsKernel {

  /** Largest accepted input: C(65536,2) ≈ 2.1e9 already refuses; the
    * cap fails LOUDLY at the row, never as an executor OOM. Callers
    * bound group size well below this (50-element caps, chunked
    * buckets).
    */
  val MaxElems = 65536

  /** Loud null-element guard: `toLongArray` on an array carrying a
    * null reads it as 0 (UnsafeArrayData) or NPEs (GenericArrayData) —
    * either way silently wrong pairs. Current callers feed
    * collect_list output (null-free), so this is a tripwire, not a
    * hot-path cost: one O(n) bit scan before the O(n²) expansion.
    */
  private def requireNoNulls(arr: ArrayData, fn: String): Unit = {
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      require(!arr.isNullAt(i),
        s"$fn: null element at index $i - pair expansion needs null-free arrays")
      i += 1
    }
  }

  /** All index-ordered pairs (xᵢ, xⱼ), i < j, of one long array. */
  def pairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    require(n <= MaxElems,
      s"graft_pairs_long: $n elements would expand to ~${n.toLong * n / 2} pairs" +
        " - cap or chunk the group before the generator")
    requireNoNulls(arr, "graft_pairs_long")
    val xs = arr.toLongArray()
    val m = n.toLong * (n - 1) / 2
    require(m <= Int.MaxValue, s"graft_pairs_long: $m pairs overflow one array")
    val out = new Array[Any](m.toInt)
    var w = 0
    var i = 0
    while (i < n - 1) {
      val xi = xs(i)
      var j = i + 1
      while (j < n) {
        out(w) = new GenericInternalRow(Array[Any](xi, xs(j)))
        w += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Every (aᵢ, bⱼ) pair across two long arrays (the chunk-grid cross
    * cell of Dedup.bucketPairsExact).
    */
  def cross(a: ArrayData, b: ArrayData): ArrayData = {
    val n = a.numElements()
    val k = b.numElements()
    val m = n.toLong * k
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    require(n <= MaxElems && k <= MaxElems && m <= Int.MaxValue,
      s"graft_cross_long: $n x $k pairs overflow one array")
    requireNoNulls(a, "graft_cross_long")
    requireNoNulls(b, "graft_cross_long")
    val as = a.toLongArray()
    val bs = b.toLongArray()
    val out = new Array[Any](m.toInt)
    var w = 0
    var i = 0
    while (i < n) {
      val ai = as(i)
      var j = 0
      while (j < k) {
        out(w) = new GenericInternalRow(Array[Any](ai, bs(j)))
        w += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  val pairType: DataType = ArrayType(StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false))), containsNull = false)

  /** [[pairs]] for string arrays (values carried by reference). */
  def pairsStr(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    require(n <= MaxElems,
      s"graft_pairs_str: $n elements would expand to ~${n.toLong * n / 2} pairs" +
        " - cap or chunk the group before the generator")
    val xs = new Array[AnyRef](n)
    var t = 0
    while (t < n) { xs(t) = arr.getUTF8String(t); t += 1 }
    val m = n.toLong * (n - 1) / 2
    require(m <= Int.MaxValue, s"graft_pairs_str: $m pairs overflow one array")
    val out = new Array[Any](m.toInt)
    var w = 0
    var i = 0
    while (i < n - 1) {
      val xi = xs(i)
      var j = i + 1
      while (j < n) {
        out(w) = new GenericInternalRow(Array[Any](xi, xs(j)))
        w += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  val pairStrType: DataType = ArrayType(StructType(Seq(
    StructField("a", StringType, nullable = true),
    StructField("b", StringType, nullable = true))), containsNull = false)
}

/** `graft_pairs_long(arr)` → array<struct<a:bigint, b:bigint>>:
  * index-ordered 2-combinations (see [[ArrayPairsKernel]]).
  */
case class ArrayPairsLong(child: Expression) extends UnaryExpression with CpuDenseKernel {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayPairsKernel.pairType

  override protected def nullSafeEval(a: Any): Any =
    ArrayPairsKernel.pairs(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.expressions.ArrayPairsKernel.pairs($a)")

  override protected def withNewChildInternal(newChild: Expression): ArrayPairsLong =
    copy(child = newChild)

  override def prettyName: String = "graft_pairs_long"
}

/** `graft_pairs_str(arr)` → array<struct<a:string, b:string>>:
  * index-ordered 2-combinations of a string array.
  */
case class ArrayPairsString(child: Expression) extends UnaryExpression with CpuDenseKernel {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayPairsKernel.pairStrType

  override protected def nullSafeEval(a: Any): Any =
    ArrayPairsKernel.pairsStr(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.expressions.ArrayPairsKernel.pairsStr($a)")

  override protected def withNewChildInternal(newChild: Expression): ArrayPairsString =
    copy(child = newChild)

  override def prettyName: String = "graft_pairs_str"
}

/** `graft_cross_long(a, b)` → array<struct<a:bigint, b:bigint>>: the
  * full cross of two long arrays (see [[ArrayPairsKernel.cross]]).
  */
case class CrossPairsLong(left: Expression, right: Expression)
  extends BinaryExpression with CpuDenseKernel {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = ArrayPairsKernel.pairType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayPairsKernel.cross(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.ArrayPairsKernel.cross($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CrossPairsLong =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_cross_long"
}
