package graft.operators

import java.security.MessageDigest

/** One SHA-256 over a corpus of inputs and what a census made of each:
  * the golden specs pin a walker's exact accept/reject decision and
  * census on every input with it.
  */
object CensusDigest {

  /** Canonical text of a census result: case classes and tuples by
    * field, arrays by content, collections in order.
    */
  def render(x: Any, sb: java.lang.StringBuilder): Unit = x match {
    case null => sb.append("null")
    case a: Array[Byte] => sb.append("b[").append(java.util.Arrays.toString(a)).append(']')
    case a: Array[Long] => sb.append("l[").append(java.util.Arrays.toString(a)).append(']')
    case a: Array[Int] => sb.append("i[").append(java.util.Arrays.toString(a)).append(']')
    case a: Array[_] =>
      sb.append("a[")
      a.foreach { e => render(e, sb); sb.append(',') }
      sb.append(']')
    case s: String => sb.append('"').append(s).append('"')
    case it: Iterable[_] =>
      sb.append("[")
      it.foreach { e => render(e, sb); sb.append(',') }
      sb.append(']')
    case p: Product =>
      sb.append(p.productPrefix).append('(')
      p.productIterator.foreach { e => render(e, sb); sb.append(',') }
      sb.append(')')
    case other => sb.append(other.toString)
  }

  def digest(corpus: Seq[(String, Array[Byte])])(run: Array[Byte] => Seq[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    corpus.foreach { case (name, bytes) =>
      val sb = new java.lang.StringBuilder(name).append('=')
      run(bytes).foreach { out => render(out, sb); sb.append(';') }
      md.update(sb.append('\n').toString.getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def guarded(f: => Any): Any =
    try f catch { case e: Throwable => s"threw ${e.getClass.getName}" }
}
