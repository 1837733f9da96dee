package graft

import scala.collection.mutable

/** Name-reference reachability over Scala sources: which declarations a
  * set of roots reaches through the names their bodies mention.
  *
  * The scan is lexical, not typed. Comments are blanked first; string
  * literals keep their text, so a class named in a conf string
  * (`spark.sql.extensions`) counts as referenced. A declaration is a
  * top-level object, class or trait, or a member (def, val, var, type,
  * nested object or class) directly inside a top-level object. A class
  * or trait is one unit with its whole body. Reaching a body reaches
  * every declaration whose name it mentions, so two members that share a
  * name are reached together: the scan can miss dead code, never report
  * live code that a root names. A reached member reaches its object,
  * and a reached object reaches its `override`/`implicit` members and
  * the ones the compiler calls for it (`apply`, `unapply`, ...).
  */
object Reachability {

  /** `owner` is the enclosing top-level object, `None` at top level;
    * `[start, end)` is the declaration's span in its file.
    */
  final case class Decl(file: String, line: Int, owner: Option[String], name: String,
      isPrivate: Boolean, withOwner: Boolean, start: Int, end: Int) {
    def id: String = owner.fold(name)(o => s"$o.$name")
  }

  private val implicitlyCalled =
    Set("apply", "unapply", "unapplySeq", "update", "toString", "equals", "hashCode")

  /** `(text, code)`: `text` is `src` with comments blanked; `code` also
    * blanks the contents of string and character literals. Newlines are
    * kept, so offsets and line numbers agree with `src`.
    */
  private def blank(src: String): (String, String) = {
    val n = src.length
    val text = src.toCharArray
    val code = src.toCharArray
    def at(i: Int): Char = if (i < n) src.charAt(i) else '\u0000'
    def clear(a: Array[Char], from: Int, to: Int): Unit =
      for (k <- from until math.min(to, n) if a(k) != '\n') a(k) = ' '
    def comment(from: Int, to: Int): Int = { clear(text, from, to); clear(code, from, to); to }
    def blockEnd(i0: Int): Int = {
      var i = i0 + 2
      var depth = 1
      while (i < n && depth > 0) {
        if (at(i) == '/' && at(i + 1) == '*') { depth += 1; i += 2 }
        else if (at(i) == '*' && at(i + 1) == '/') { depth -= 1; i += 2 }
        else i += 1
      }
      i
    }
    // code from `i0` up to the end, or past the `}` that closes an
    // interpolated `${`
    def scanCode(i0: Int, nested: Boolean): Int = {
      var i = i0
      var depth = 0
      while (i < n) {
        val c = at(i)
        if (c == '/' && at(i + 1) == '/') {
          val e = src.indexOf('\n', i)
          i = comment(i, if (e < 0) n else e)
        } else if (c == '/' && at(i + 1) == '*') i = comment(i, blockEnd(i))
        else if (c == '"') i = scanString(i, i > 0 && Character.isLetterOrDigit(at(i - 1)))
        else if (c == '\'') i = scanChar(i)
        else if (c == '{') { depth += 1; i += 1 }
        else if (c == '}') {
          if (nested && depth == 0) return i + 1
          depth -= 1; i += 1
        } else i += 1
      }
      i
    }
    def scanString(q: Int, interpolated: Boolean): Int = {
      val triple = src.startsWith("\"\"\"", q)
      var i = if (triple) q + 3 else q + 1
      var done = false
      while (i < n && !done) {
        val c = at(i)
        if (interpolated && c == '$' && at(i + 1) == '{') i = scanCode(i + 2, nested = true)
        else if (interpolated && c == '$') i += 2
        else if (triple && src.startsWith("\"\"\"", i)) {
          while (at(i + 3) == '"') i += 1
          i += 3; done = true
        } else if (!triple && c == '\\') i += 2
        else if (!triple && (c == '"' || c == '\n')) { i += 1; done = true }
        else i += 1
      }
      clear(code, q + 1, i - 1)
      i
    }
    def scanChar(i: Int): Int =
      if (at(i + 1) == '\\') {
        val e = src.indexOf('\'', i + 2)
        if (e < 0 || e - i > 8) i + 1 else { clear(code, i + 1, e); e + 1 }
      } else if (at(i + 2) == '\'') { clear(code, i + 1, i + 2); i + 3 }
      else i + 1
    scanCode(0, nested = false)
    (new String(text), new String(code))
  }

  private val declKw = Set("def", "val", "var", "object", "class", "trait", "type")
  private val token = """[A-Za-z_][A-Za-z0-9_]*|[{}()\[\]]""".r
  private val ident = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val plainPrivate = """\bprivate\b(?!\[)""".r

  /** One file: its declarations, the comment-blanked text their spans
    * index, the object members its imports make visible unqualified
    * (object name → member names, `_` for a wildcard import), and the
    * other names it gives objects (`{TextAnalysis => TA}`,
    * `val ops = TfRecordOps`).
    */
  private final case class Parsed(decls: Seq[Decl], text: String,
      imports: Map[String, Set[String]], aliases: Map[String, String])

  private val importClause = """\bimport\s+([\w.]+)\.(_|\{[^}]*\}|\w+)""".r
  private val renamed = """(\w+)\s*=>\s*(\w+)""".r
  private val valAlias = """(?m)\bval\s+(\w+)\s*=\s*(?:[\w.]+\.)?(\w+)\s*$""".r

  private def parse(file: String, src: String): Parsed = {
    val (text, code) = blank(src)
    val lineStarts = code.indices.filter(i => i == 0 || code.charAt(i - 1) == '\n').toArray
    def lineOf(off: Int): Int = {
      val k = java.util.Arrays.binarySearch(lineStarts, off)
      (if (k >= 0) k else -k - 2) + 1
    }
    def modifiers(off: Int): String = code.substring(code.lastIndexOf('\n', off) + 1, off)
    val toks = token.findAllMatchIn(code).map(m => (m.matched, m.start)).toIndexedSeq
    val out = mutable.ArrayBuffer.empty[Decl]
    var braces = 0
    var parens = 0
    // the top-level object whose body is open, and the decls not yet closed
    var objectOpen: Option[String] = None
    var openTop: Option[Decl] = None
    var openMember: Option[Decl] = None
    def close(d: Option[Decl], end: Int): Unit = d.foreach(x => out += x.copy(end = end))
    var k = 0
    while (k < toks.size) {
      val (t, off) = toks(k)
      t match {
        case "{" => braces += 1
        case "}" =>
          braces -= 1
          if (braces == 0 && objectOpen.isDefined) {
            close(openMember, off); openMember = None; objectOpen = None
          }
        case "(" | "[" => parens += 1
        case ")" | "]" => parens -= 1
        case kw if declKw(kw) && parens == 0 && k + 1 < toks.size &&
            (braces == 0 || (braces == 1 && objectOpen.isDefined)) &&
            !(kw == "type" && braces == 0) =>
          val name = toks(k + 1)._1
          val mods = modifiers(off)
          val d = Decl(file, lineOf(off), if (braces == 0) None else objectOpen, name,
            isPrivate = plainPrivate.findFirstIn(mods).isDefined,
            withOwner = mods.contains("override") || mods.contains("implicit") ||
              implicitlyCalled(name) || !ident.matches(name),
            off, -1)
          if (braces == 0) {
            close(openMember, off); openMember = None
            close(openTop, off)
            openTop = Some(d)
            objectOpen = if (kw == "object") Some(name) else None
          } else {
            // an object's own span ends at its first member
            if (openMember.isEmpty) openTop.foreach(o => { out += o.copy(end = off); openTop = None })
            close(openMember, off)
            openMember = Some(d)
          }
          if (ident.matches(name)) k += 1
        case _ =>
      }
      k += 1
    }
    close(openMember, code.length)
    close(openTop, code.length)
    val imports = importClause.findAllMatchIn(code).toSeq.map { m =>
      m.group(1).split('.').last -> (if (m.group(2) == "_") Set("_") else ident.findAllIn(m.group(2)).toSet)
    }.groupMapReduce(_._1)(_._2)(_ ++ _)
    val aliases = importClause.findAllMatchIn(code).flatMap(m => renamed.findAllMatchIn(m.group(2)))
      .map(m => m.group(2) -> m.group(1)) ++ valAlias.findAllMatchIn(code).map(m => m.group(1) -> m.group(2))
    Parsed(out.toSeq, text, imports, aliases.toMap)
  }

  /** The identifier before the `.` that precedes offset `p`, `""` when
    * that is not an identifier (`f(x).m`), `None` when no `.` precedes.
    */
  private def qualifier(s: String, p: Int): Option[String] = {
    var i = p - 1
    while (i >= 0 && s.charAt(i).isWhitespace) i -= 1
    if (i < 0 || s.charAt(i) != '.') None
    else {
      i -= 1
      while (i >= 0 && s.charAt(i).isWhitespace) i -= 1
      val end = i + 1
      while (i >= 0 && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i -= 1
      Some(s.substring(i + 1, end))
    }
  }

  /** The declarations of `sources` (path → text) that `isRoot` and the
    * names mentioned in reached bodies do not reach, in source order. A
    * mention of `m` reaches a top-level `m` from anywhere; it reaches
    * member `m` of object `O` as `O.m` (or through an alias of `O`), or
    * unqualified (or after a value, `x.m`) from `O`'s own file or a file
    * that imports `O._` or `O.m`.
    */
  def unreached(sources: Seq[(String, String)], isRoot: Decl => Boolean): Seq[Decl] = {
    val parsed = sources.map { case (f, s) => f -> parse(f, s) }.toMap
    val decls = sources.flatMap { case (f, _) => parsed(f).decls }
    val byName = decls.groupBy(_.name)
    val objects = decls.filter(_.owner.isEmpty).groupBy(_.name)
    val members = decls.filter(_.owner.nonEmpty).groupBy(_.owner.get)
    def visible(file: String, owner: String, name: String): Boolean =
      objects.getOrElse(owner, Nil).exists(_.file == file) ||
        parsed(file).imports.get(owner).exists(s => s("_") || s(name))
    val reached = mutable.Set.empty[Decl]
    val work = mutable.Stack.empty[Decl]
    def reach(d: Decl): Unit = if (reached.add(d)) work.push(d)
    decls.filter(isRoot).foreach(reach)
    while (work.nonEmpty) {
      val d = work.pop()
      d.owner match {
        case Some(o) => objects.getOrElse(o, Nil).foreach(reach)
        case None => members.getOrElse(d.name, Nil).filter(_.withOwner).foreach(reach)
      }
      val body = parsed(d.file).text.substring(d.start, d.end)
      val aliases = parsed(d.file).aliases
      for (m <- ident.findAllMatchIn(body); t <- byName.getOrElse(m.matched, Nil)) {
        val q = qualifier(body, m.start).map(q => aliases.getOrElse(q, q))
        if (t.owner.forall(o => q.contains(o) || visible(d.file, o, t.name))) reach(t)
      }
    }
    decls.filterNot(reached)
  }
}
