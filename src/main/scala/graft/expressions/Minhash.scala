package graft.expressions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass kernel behind the native MinHash expressions.
  *
  * Bit-identical to the declarative pipeline it replaces (Spark column
  * functions, kept as the reference in DedupSimilaritySpec) — same
  * space-only trim, same
  * `split("\s+", -1)`, same md5-60-bit hash (`Hashing.hash64`), same
  * affine family and band strings — but one compiled pass per row:
  * no per-shingle hex/conv round-trip, no interpreted higher-order
  * functions, no intermediate string arrays. The HOF form pays lambda
  * interpretation + boxing per element (the round-1 5–40× traps); this
  * is the same arithmetic as a tight loop.
  */
object MinhashKernel {

  /** Mersenne prime 2^31 − 1 (mirrors Dedup.MinhashP). */
  val P: Long = 2147483647L

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5 — identical to parsing the first 15 hex chars
    * of the hex digest (Hashing.hash64): bytes 0–7 big-endian, low
    * nibble dropped.
    */
  def hash60(bytes: Array[Byte]): Long = {
    val d = digest.get()
    d.reset()
    val out = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (out(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def hash60(s: String): Long = hash60(s.getBytes(StandardCharsets.UTF_8))

  /** Distinct 31-bit hashes of the word n-gram shingles of `text`,
    * first-occurrence order (= array_distinct semantics). Documents
    * shorter than n tokens contribute one whole-text shingle.
    */
  def shingleHashes(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString
    // Spark trim() strips 0x20 only (not general whitespace)
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    val toks = s.substring(b, e).split("\\s+", -1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]
    val sb = new java.lang.StringBuilder
    if (toks.length < n) {
      sb.setLength(0)
      var k = 0
      while (k < toks.length) { if (k > 0) sb.append(' '); sb.append(toks(k)); k += 1 }
      seen.add(hash60(sb.toString) & P)
    } else {
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var k = 0
        while (k < n) { if (k > 0) sb.append(' '); sb.append(toks(i + k)); k += 1 }
        seen.add(hash60(sb.toString) & P)
        i += 1
      }
    }
    val arr = new Array[Long](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new GenericArrayData(arr)
  }

  /** 31-bit hashes of ALL word n-gram shingles of `text`, one entry
    * per occurrence in order (the counting twin of [[shingleHashes]],
    * which dedups). Same tokenization, same md5-60-bit & P hash;
    * documents shorter than n tokens contribute one whole-text
    * shingle. Backs repetition statistics, where duplicate shingles
    * ARE the signal.
    */
  def shingleHashList(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    val toks = s.substring(b, e).split("\\s+", -1)
    val sb = new java.lang.StringBuilder
    if (toks.length < n) {
      sb.setLength(0)
      var k = 0
      while (k < toks.length) { if (k > 0) sb.append(' '); sb.append(toks(k)); k += 1 }
      new GenericArrayData(Array(hash60(sb.toString) & P))
    } else {
      val m = toks.length - n + 1
      val arr = new Array[Long](m)
      var i = 0
      while (i < m) {
        sb.setLength(0)
        var k = 0
        while (k < n) { if (k > 0) sb.append(' '); sb.append(toks(i + k)); k += 1 }
        arr(i) = hash60(sb.toString) & P
        i += 1
      }
      new GenericArrayData(arr)
    }
  }

  /** (a_j, b_j) affine coefficients for family size k, flattened —
    * md5-derived exactly like Dedup.minhashCoeffs.
    */
  private val coeffCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]
  def coeffsFor(k: Int): Array[Long] =
    coeffCache.computeIfAbsent(k, k => {
      val out = new Array[Long](2 * k)
      var j = 0
      while (j < k) {
        out(2 * j) = (graft.functions.Hashing.hash64Local(s"mh-a-$j") % (P - 1)) + 1
        out(2 * j + 1) = graft.functions.Hashing.hash64Local(s"mh-b-$j") % P
        j += 1
      }
      out
    })

  /** k affine mins over the shingle hashes, cut into k/rowsPerBand
    * bands, each band hashed as md5("band<b>|m..|m..") — identical to
    * the declarative band hashes in DedupSimilaritySpec.
    */
  def minhashBands(hashes: ArrayData, k: Int, rowsPerBand: Int): ArrayData = {
    val m = hashes.numElements()
    val coeffs = coeffsFor(k)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < m) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < k) {
        val v = (coeffs(2 * j) * h + coeffs(2 * j + 1)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    val numBands = k / rowsPerBand
    val out = new Array[Long](numBands)
    val sb = new java.lang.StringBuilder
    var b = 0
    while (b < numBands) {
      sb.setLength(0)
      sb.append("band").append(b)
      var r = 0
      while (r < rowsPerBand) { sb.append('|').append(mins(b * rowsPerBand + r)); r += 1 }
      out(b) = hash60(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_shingle_hashes(text, n)` → array<long>: distinct 31-bit md5
  * hashes of the word n-gram shingles, computed in one compiled pass
  * (see [[MinhashKernel.shingleHashes]]).
  */
case class ShingleHashes(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: first argument must be string")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: n must be an integer literal")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val n: Int = right.eval().asInstanceOf[Int]

  override protected def nullSafeEval(t: Any, nn: Any): Any =
    MinhashKernel.shingleHashes(t.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.expressions.MinhashKernel.shingleHashes($t, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleHashes =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_shingle_hashes"
}

/** `graft_shingle_hash_list(text, n)` → array<long>: 31-bit md5
  * hashes of ALL word n-gram shingles, one per occurrence (the
  * non-distinct twin of [[ShingleHashes]] for repetition counting).
  */
case class ShingleHashList(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: first argument must be string")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: n must be an integer literal")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val n: Int = right.eval().asInstanceOf[Int]

  override protected def nullSafeEval(t: Any, nn: Any): Any =
    MinhashKernel.shingleHashList(t.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.expressions.MinhashKernel.shingleHashList($t, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleHashList =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_shingle_hash_list"
}

/** `graft_hash64(s)` → bigint: the engine's 60-bit md5-derived hash
  * (first 15 hex chars of md5, = `Hashing.hash64` /
  * `MinhashKernel.hash60`), as ONE compiled digest over the UTF-8
  * bytes. The declarative chain (`conv(substring(md5(s),1,15),16,10)`)
  * detours through a 32-char hex string and a radix-parse per row —
  * ~3 µs/row; this is the hot-loop form for row×replicate fan-outs
  * (q207 evaluates it 15M times at sf0.1).
  */
case class Hash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName: argument must be string")

  override def dataType: DataType = LongType

  override protected def nullSafeEval(t: Any): Any =
    MinhashKernel.hash60(t.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.expressions.MinhashKernel.hash60($t.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Hash64 =
    copy(child = newChild)

  override def prettyName: String = "graft_hash64"
}

/** `graft_minhash_bands(hashes, k, rowsPerBand)` → array<long>: LSH
  * band hashes of the affine MinHash signature, one compiled pass
  * (see [[MinhashKernel.minhashBands]]).
  */
case class MinhashBands(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!first.dataType.isInstanceOf[ArrayType] ||
        first.dataType.asInstanceOf[ArrayType].elementType != LongType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: first argument must be array<long>")
    else if (!second.foldable || second.dataType != IntegerType ||
        !third.foldable || third.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: k and rowsPerBand must be integer literals")
    else if (second.eval().asInstanceOf[Int] % third.eval().asInstanceOf[Int] != 0)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: rowsPerBand must divide k")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val k: Int = second.eval().asInstanceOf[Int]
  private lazy val r: Int = third.eval().asInstanceOf[Int]

  override protected def nullSafeEval(h: Any, kk: Any, rr: Any): Any =
    MinhashKernel.minhashBands(h.asInstanceOf[ArrayData], k, r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, _, _) =>
      s"${ev.value} = graft.expressions.MinhashKernel.minhashBands($h, $k, $r);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): MinhashBands =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "graft_minhash_bands"
}
