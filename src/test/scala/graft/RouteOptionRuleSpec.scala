package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Operators pick their own join routes: no public signature under
  * `graft.{operators, tsdb, streaming}` takes a route option (a
  * `broadcast…` switch or ceiling, a `salt: Int`, a `hotMin` floor).
  * A route chosen from a measured size keeps its pin on a
  * `private[graft]` kernel, where specs run both routes. Checked over
  * the sources in plain Scala (no Spark job).
  */
class RouteOptionRuleSpec extends AnyFunSuite {

  private val dirs = Seq("operators", "tsdb", "streaming")
    .map(d => Paths.get(s"src/main/scala/graft/$d"))

  /** `Owner.def.param` -> why that public route parameter stays. */
  private val allowed = Map(
    "Dedup.embeddingCosineLshFrame.broadcastVerify" ->
      "graftbench's DedupCorpus passes it by name, sized from its own corpus")

  /** A `def` with its modifiers, from the start of its line. */
  private val Def =
    """(?m)^[ \t]*((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+)*)def\s+(\w+)""".r

  private val RouteParam = """\b(broadcast[A-Z]\w*|hotMin)\s*:|\b(salt)\s*:\s*Int\b""".r

  /** The text of the parameter lists that follow `from` (type
    * parameters skipped), up to the first character after them.
    */
  private def paramLists(text: String, from: Int): String = {
    val out = new StringBuilder
    var i = from
    def skipSpace(): Unit = while (i < text.length && text(i).isWhitespace) i += 1
    def balanced(open: Char, close: Char): String = {
      val start = i
      var depth = 0
      do {
        if (text(i) == open) depth += 1 else if (text(i) == close) depth -= 1
        i += 1
      } while (depth > 0 && i < text.length)
      text.substring(start, i)
    }
    skipSpace()
    if (i < text.length && text(i) == '[') balanced('[', ']')
    skipSpace()
    while (i < text.length && text(i) == '(') {
      out ++= balanced('(', ')')
      skipSpace()
    }
    out.toString
  }

  /** `(file:line, Owner.def.param)` for every route parameter of a
    * non-private `def` in `f`; the owner is the file's name.
    */
  private def routeParams(f: Path): Seq[(String, String)] = {
    val text = Files.readString(f)
    val owner = f.getFileName.toString.stripSuffix(".scala")
    Def.findAllMatchIn(text).toSeq
      .filterNot(_.group(1).contains("private"))
      .flatMap { m =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        RouteParam.findAllMatchIn(paramLists(text, m.end)).map { p =>
          (s"$f:$line", s"$owner.${m.group(2)}.${Option(p.group(1)).getOrElse(p.group(2))}")
        }
      }
  }

  test("no public route option on an operator signature") {
    val files = dirs.flatMap(d => Files.walk(d).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList)
    assert(files.exists(_.getFileName.toString == "Dedup.scala"))
    val found = files.flatMap(routeParams)
    val offending = found.filterNot { case (_, key) => allowed.contains(key) }
    assert(offending.isEmpty,
      offending.map { case (at, key) => s"$at: $key" }.mkString("\n"))
    // a stale allow-list entry fails too, so the list stays exact
    assert(found.map(_._2).toSet == allowed.keySet, found.mkString("\n"))
  }
}
