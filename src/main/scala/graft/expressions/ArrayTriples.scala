package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Compiled kernel behind `graft_triples`: all index-ordered triples
  * (xᵢ, xⱼ, xₖ), i < j < k, of a string array — the per-basket
  * generator of Apriori level-3 support counting (q278).
  *
  * Replaces a `flatten(transform(sequence, flatten(transform(sequence,
  * transform(slice, …)))))` HOF chain: nested higher-order lambdas
  * evaluate INTERPRETED per element with re-evaluated `slice`/
  * `element_at` calls — the exact plan shape whose interpreted-fallback
  * cliff cost q61/q62 30× before their kernel rewrite (and the one
  * shape a stray 12.6× bench flag pointed at in round 13, reproduced or
  * not). One compiled pass, zero intermediate arrays: C(n,3) structs
  * allocated directly. The caller bounds n (q278's Apriori level-1
  * prune keeps baskets to individually-frequent items); the kernel
  * still hard-caps against degenerate inputs rather than attempting a
  * multi-GiB allocation.
  */
object ArrayTriplesKernel {

  /** Largest accepted input array: C(4096,3) ≈ 1.1e10 already refuses;
    * the cap fails LOUDLY at the row, never as an executor OOM.
    */
  val MaxElems = 4096

  def triples(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    require(n <= MaxElems,
      s"graft_triples: $n elements would expand to ~${n.toLong * n * n / 6} triples" +
        " - prune the basket before the generator (Apriori level-1)")
    val xs = new Array[AnyRef](n)
    var t = 0
    while (t < n) { xs(t) = arr.getUTF8String(t); t += 1 }
    val m = n.toLong * (n - 1) * (n - 2) / 6
    require(m <= Int.MaxValue, s"graft_triples: $m triples overflow one array")
    val out = new Array[Any](m.toInt)
    var w = 0
    var i = 0
    while (i < n - 2) {
      var j = i + 1
      while (j < n - 1) {
        var k = j + 1
        while (k < n) {
          out(w) = new GenericInternalRow(Array[Any](xs(i), xs(j), xs(k)))
          w += 1
          k += 1
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_triples(arr)` → array<struct<a:string, b:string, c:string>>:
  * index-ordered 3-combinations (see [[ArrayTriplesKernel]]).
  */
case class ArrayTriples(child: Expression) extends UnaryExpression with CpuDenseKernel {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", StringType, nullable = true),
    StructField("b", StringType, nullable = true),
    StructField("c", StringType, nullable = true))), containsNull = false)

  override protected def nullSafeEval(a: Any): Any =
    ArrayTriplesKernel.triples(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.expressions.ArrayTriplesKernel.triples($a)")

  override protected def withNewChildInternal(newChild: Expression): ArrayTriples =
    copy(child = newChild)

  override def prettyName: String = "graft_triples"
}
