package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

/** Source contract: a default-valued parameter of a library function is
  * a choice some caller makes. A default that no call site in
  * `src/main/scala`, `src/test/scala` or `perfbench/src` sets to another
  * value is a constant, and belongs in the function body as one.
  *
  * The census is textual, and matches by name:
  *  - sources are lexed so that comments and the text of string literals
  *    are blanked; the code inside an interpolated string's `${...}`
  *    is kept;
  *  - a declaration is `def name[...](p: T = d, ...)(...)` under
  *    `src/main/scala`; an `override def` is skipped, since its
  *    parameters are fixed by the member it overrides;
  *  - a call site is `name(` or `name[...](`, other than a declaration,
  *    in any of the three trees; its argument lists are split on
  *    top-level commas, `p = v` being a named argument and anything else
  *    a positional one;
  *  - a call matches each declaration of that name whose parameter lists
  *    accept it: no more positional arguments than parameters (unless
  *    the last is a vararg) and every named argument a parameter of its
  *    list. Where several declarations share a name, a call qualified as
  *    `Owner.name(` matches only those of the top-level object or class
  *    `Owner` (the last one declared at column 0 above the `def`), and an
  *    unqualified call only those of its own file, when there are any;
  *    overloads that remain ambiguous resolve through `exempt`;
  *  - a call sets parameter `p` (index i of its list) when that list has
  *    a named argument `p` or more than i positional ones, and sets it to
  *    another value when the argument's text differs from the default's
  *    (whitespace runs collapsed).
  *
  * Every defaulted parameter that no call sets to another value fails
  * the contract unless `exempt` lists it with its reason. The census
  * also reports, without failing on them, the parameters without a
  * default, of functions `src/main` calls, that every call site passes
  * one and the same literal.
  */
class ParameterSpec extends AnyFunSuite {
  import ParameterSpec._

  /** (owner, function, parameter) -> why the default stays a parameter. */
  private val exempt: Map[(String, String, String), String] = Map(
    ("Sync", "start", "trigger") ->
      "the benchmark harness under perfbench/src passes it and compiles against this signature")

  test("contract: every defaulted parameter under src/main/scala is set to another value by some call site") {
    val roots = Seq("src/main/scala", "src/test/scala", "perfbench/src").map(new File(_))
    roots.foreach(r => assert(r.isDirectory, s"source dir not found at ${r.getAbsolutePath}"))
    val c = census(roots.head, roots)
    info(s"${c.defaulted.size} defaulted parameters: ${c.neverSet.size} never set, " +
      s"${c.onlyDefault.size} set only to their default; ${c.oneLiteral.size} non-defaulted " +
      "parameters of functions src/main calls get one literal at every call site")
    val flagged = c.neverSet ++ c.onlyDefault
    val offenders = flagged.filterNot(r => exempt.contains(r.key))
    assert(offenders.isEmpty,
      s"""${offenders.size} defaulted parameters that no call site sets to another value;
         |make each a constant in its function, or add it to this test's exempt map
         |with why it stays a parameter:
         |${offenders.map(_.describe).mkString("\n")}""".stripMargin)
    val stale = exempt.keySet -- flagged.map(_.key)
    assert(stale.isEmpty, s"stale exempt entries (no such unset parameter): ${stale.mkString(", ")}")
  }
}

object ParameterSpec {
  final case class Param(name: String, tpe: String, default: Option[String], index: Int,
                         implicitParam: Boolean)
  final case class Decl(file: String, owner: String, name: String, line: Int, pos: Int,
                        groups: Seq[Seq[Param]], isOverride: Boolean)
  final case class Arg(name: Option[String], text: String)
  final case class Call(file: String, qualifier: Option[String], name: String,
                        groups: Seq[Seq[Arg]], inMain: Boolean)

  /** One parameter with the value each matching call passes it (None
    * where the call leaves it out). */
  final case class Row(decl: Decl, param: Param, values: Seq[Option[String]], mainCalled: Boolean) {
    def key: (String, String, String) = (decl.owner, decl.name, param.name)
    def describe: String =
      s"  ${decl.file}:${decl.line} ${decl.owner}.${decl.name}(${param.name}: ${param.tpe}" +
        param.default.fold("")(d => s" = $d") + s") — ${values.size} call sites"
  }

  final case class Census(defaulted: Seq[Row], neverSet: Seq[Row], onlyDefault: Seq[Row],
                          oneLiteral: Seq[Row])

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*"
  private val DefRe = s"""\\bdef\\s+($Ident)""".r
  private val OwnerRe = s"""(?m)^(?:\\S[^\n]*?)?\\b(?:object|class|trait)\\s+($Ident)""".r
  private val ParamRe =
    s"""^\\s*((?:implicit|val|var|override|private|final|lazy)\\s+)*($Ident)\\s*:""".r
  private val CallRe = s"""(?<![A-Za-z0-9_])($Ident)(?=\\s*[\\[(])""".r
  private val NamedRe = s"""^\\s*($Ident)\\s*=(?![=>])""".r
  private val QualRe = s"""($Ident)\\s*\\.\\s*$$""".r
  private val Literal =
    """^(-?\d+(\.\d+)?([eE]-?\d+)?[LlDdFf]?|"[^"\\$]*"|true|false|'.')$""".r

  def norm(s: String): String = s.replaceAll("\\s+", " ").trim

  /** `text` with comments and string-literal contents blanked (newlines
    * kept); code inside an interpolated string's `${...}` stays. */
  def lexMask(t: String): String = {
    val out = t.toCharArray
    val n = t.length
    def blank(a: Int, b: Int): Unit =
      (a until math.min(b, n)).foreach(k => if (out(k) != '\n') out(k) = ' ')
    def isId(c: Char) = c.isLetterOrDigit || c == '_'
    def charLit(i: Int): Int =
      if (i + 2 < n && t(i + 1) != '\\' && t(i + 1) != '\'' && t(i + 2) == '\'') 3
      else if (i + 3 < n && t(i + 1) == '\\' && t(i + 3) == '\'') 4
      else 0
    // returns the index after the region; with inBrace, the index of the
    // `}` closing an interpolation
    def code(start: Int, inBrace: Boolean): Int = {
      var i = start
      var depth = 0
      while (i < n) {
        val c = t(i)
        if (c == '/' && i + 1 < n && t(i + 1) == '/') {
          val e = t.indexOf('\n', i)
          val j = if (e < 0) n else e
          blank(i, j); i = j
        } else if (c == '/' && i + 1 < n && t(i + 1) == '*') {
          var d = 0; var j = i; var done = false
          while (j < n && !done) {
            if (t.startsWith("/*", j)) { d += 1; j += 2 }
            else if (t.startsWith("*/", j)) { d -= 1; j += 2; if (d == 0) done = true }
            else j += 1
          }
          blank(i, j); i = j
        } else if (c == '"') {
          var k = i - 1
          while (k >= 0 && isId(t(k))) k -= 1
          i = string(i, interp = k + 1 < i && (k < 0 || t(k) != '.'))
        } else if (c == '\'' && charLit(i) > 0) {
          val l = charLit(i)
          blank(i + 1, i + l - 1); i += l
        } else {
          if (inBrace && c == '{') depth += 1
          if (inBrace && c == '}') { if (depth == 0) return i; depth -= 1 }
          i += 1
        }
      }
      i
    }
    def string(start: Int, interp: Boolean): Int = {
      val triple = t.startsWith("\"\"\"", start)
      var i = start + (if (triple) 3 else 1)
      var end = -1
      while (i < n && end < 0) {
        if (triple && t.startsWith("\"\"\"", i)) {
          var j = i
          while (t.startsWith("\"\"\"\"", j)) j += 1
          end = j + 3
        } else if (!triple && t(i) == '\\') { blank(i, i + 2); i += 2 }
        else if (!triple && t(i) == '"') end = i + 1
        else if (interp && t(i) == '$' && i + 1 < n && t(i + 1) == '$') { blank(i, i + 2); i += 2 }
        else if (interp && t(i) == '$' && i + 1 < n && t(i + 1) == '{') {
          blank(i, i + 2)
          val j = code(i + 2, inBrace = true)
          if (j < n) out(j) = ' '
          i = j + 1
        } else { if (t(i) != '\n') out(i) = ' '; i += 1 }
      }
      if (end < 0) n else end
    }
    code(0, inBrace = false)
    new String(out)
  }

  private def matchClose(m: String, i: Int): Int = {
    val stack = scala.collection.mutable.Stack.empty[Char]
    var j = i
    while (j < m.length) {
      m(j) match {
        case '(' => stack.push(')')
        case '[' => stack.push(']')
        case '{' => stack.push('}')
        case c @ (')' | ']' | '}') =>
          if (stack.isEmpty || stack.top != c) return -1
          stack.pop()
          if (stack.isEmpty) return j
        case _ =>
      }
      j += 1
    }
    -1
  }

  private def splitTop(m: String, a: Int, b: Int): Seq[(Int, Int)] = {
    val parts = ArrayBuffer.empty[(Int, Int)]
    var depth = 0
    var s = a
    for (j <- a until b) m(j) match {
      case '(' | '[' | '{' => depth += 1
      case ')' | ']' | '}' => depth -= 1
      case ',' if depth == 0 => parts += ((s, j)); s = j + 1
      case _ =>
    }
    if (m.substring(s, b).trim.nonEmpty || parts.nonEmpty) parts += ((s, b))
    parts.toSeq
  }

  private def skipWs(m: String, i: Int): Int = {
    var j = i
    while (j < m.length && " \t\r\n".indexOf(m(j)) >= 0) j += 1
    j
  }

  private def lineOf(t: String, pos: Int): Int = t.substring(0, pos).count(_ == '\n') + 1

  private def parseParam(t: String, m: String, s: Int, e: Int, idx: Int): Option[Param] = {
    val seg = m.substring(s, e)
    ParamRe.findFirstMatchIn(seg).map { pm =>
      var depth = 0
      var eq = -1
      var k = pm.end
      while (k < seg.length && eq < 0) {
        val c = seg(k)
        if ("([{".indexOf(c) >= 0) depth += 1
        else if (")]}".indexOf(c) >= 0) depth -= 1
        else if (c == '=' && depth == 0 && !(k + 1 < seg.length && (seg(k + 1) == '>' || seg(k + 1) == '=')) &&
          !(k > 0 && "<>!=".indexOf(seg(k - 1)) >= 0)) eq = k
        k += 1
      }
      val mods = Option(pm.group(1)).getOrElse("")
      if (eq < 0) Param(pm.group(2), t.substring(s + pm.end, e).trim, None, idx, mods.contains("implicit"))
      else Param(pm.group(2), t.substring(s + pm.end, s + eq).trim,
        Some(t.substring(s + eq + 1, e).trim), idx, mods.contains("implicit"))
    }
  }

  def declarations(file: String, t: String, m: String): Seq[Decl] = {
    val owners = OwnerRe.findAllMatchIn(m).map(o => (o.start, o.group(1))).toVector
    DefRe.findAllMatchIn(m).toSeq.flatMap { d =>
      var j = skipWs(m, d.end)
      if (j < m.length && m(j) == '[') j = skipWs(m, matchClose(m, j) + 1)
      val groups = ArrayBuffer.empty[Seq[Param]]
      var ok = true
      while (ok && j < m.length && m(j) == '(') {
        val k = matchClose(m, j)
        if (k < 0) ok = false
        else {
          val ps = splitTop(m, j + 1, k).zipWithIndex.map { case ((s, e), i) => parseParam(t, m, s, e, i) }
          if (ps.exists(_.isEmpty)) ok = false
          else { groups += ps.flatten; j = skipWs(m, k + 1) }
        }
      }
      val lineStart = m.lastIndexOf('\n', d.start) + 1
      val owner = owners.takeWhile(_._1 < d.start).lastOption.map(_._2).getOrElse("")
      if (groups.isEmpty) None
      else Some(Decl(file, owner, d.group(1), lineOf(t, d.start), d.start, groups.toSeq,
        m.substring(lineStart, d.start).contains("override")))
    }
  }

  def calls(file: String, t: String, m: String, names: Set[String], inMain: Boolean): Seq[Call] =
    CallRe.findAllMatchIn(m).toSeq.flatMap { c =>
      val name = c.group(1)
      if (!names.contains(name) ||
        m.substring(math.max(0, c.start - 8), c.start).matches("(?s).*\\bdef\\s+")) None
      else {
        var j = skipWs(m, c.end)
        if (j < m.length && m(j) == '[') { val k = matchClose(m, j); j = if (k < 0) -1 else k + 1 }
        val groups = ArrayBuffer.empty[Seq[Arg]]
        var ok = j >= 0
        while (ok && j < m.length && m(j) == '(') {
          val k = matchClose(m, j)
          if (k < 0) ok = false
          else {
            groups += splitTop(m, j + 1, k).map { case (s, e) =>
              NamedRe.findFirstMatchIn(m.substring(s, e)) match {
                case Some(nm) => Arg(Some(nm.group(1)), t.substring(s + nm.end, e).trim)
                case None => Arg(None, t.substring(s, e).trim)
              }
            }
            j = k + 1
          }
        }
        val qual = QualRe.findFirstMatchIn(m.substring(math.max(0, c.start - 60), c.start)).map(_.group(1))
        if (groups.isEmpty) None else Some(Call(file, qual, name, groups.toSeq, inMain))
      }
    }

  private def compatible(d: Decl, c: Call): Boolean =
    c.groups.zip(d.groups).forall { case (args, params) =>
      val vararg = params.lastOption.exists(_.tpe.endsWith("*"))
      (args.count(_.name.isEmpty) <= params.size || vararg) &&
        args.flatMap(_.name).forall(n => params.exists(_.name == n))
    }

  /** The argument `c` passes to parameter `p` of group `g`, if any. */
  private def argFor(c: Call, g: Int, p: Param): Option[Arg] =
    c.groups.lift(g).flatMap { args =>
      args.find(_.name.contains(p.name)).orElse {
        val pos = args.filter(_.name.isEmpty)
        if (p.index < pos.size && !p.tpe.endsWith("*")) Some(pos(p.index)) else None
      }
    }

  def census(main: File, roots: Seq[File]): Census = {
    def sources(d: File): Seq[File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) sources(f) else Seq(f))
    val mainPath = main.getPath
    val files = roots.flatMap(sources).filter(_.getName.endsWith(".scala")).sortBy(_.getPath)
      .map { f =>
        val t = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        (f.getPath, t, lexMask(t))
      }
    val decls = files.filter(_._1.startsWith(mainPath)).flatMap { case (p, t, m) => declarations(p, t, m) }
    val byName = decls.groupBy(_.name)
    val allCalls = files.flatMap { case (p, t, m) => calls(p, t, m, byName.keySet, p.startsWith(mainPath)) }
    val matched = scala.collection.mutable.Map.empty[Decl, ArrayBuffer[Call]]
    for (c <- allCalls) {
      val all = byName(c.name)
      val narrowed =
        if (all.size < 2) all
        else {
          val q = c.qualifier match {
            case Some(o) => all.filter(_.owner == o)
            case None => all.filter(_.file == c.file)
          }
          if (q.nonEmpty) q else all
        }
      narrowed.filter(compatible(_, c)).foreach(d => matched.getOrElseUpdate(d, ArrayBuffer.empty) += c)
    }
    val rows = for {
      d <- decls if !d.isOverride
      (ps, g) <- d.groups.zipWithIndex
      p <- ps
    } yield {
      val cs = matched.getOrElse(d, ArrayBuffer.empty[Call]).toSeq
      Row(d, p, cs.map(c => argFor(c, g, p).map(a => norm(a.text))), cs.exists(_.inMain))
    }
    val defaulted = rows.filter(_.param.default.isDefined)
    val never = defaulted.filter(_.values.forall(_.isEmpty))
    val onlyDefault = defaulted.filter(r => r.values.exists(_.isDefined) &&
      r.values.flatten.forall(_ == norm(r.param.default.get)))
    val oneLiteral = rows.filter(r => r.param.default.isEmpty && !r.param.implicitParam &&
      r.mainCalled && r.values.nonEmpty && r.values.forall(_.isDefined) &&
      r.values.flatten.distinct.size == 1 && Literal.findFirstIn(r.values.head.get).isDefined)
    Census(defaulted, never, onlyDefault, oneLiteral)
  }
}
