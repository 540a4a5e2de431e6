package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Decisions made in one module, checked over the sources in plain
  * Scala (no Spark job): how graft opens a parquet input
  * (`graft.io.Source`; `Bench` keeps its own reads, since it times them)
  * and how it keys and marks a persisted artifact (`graft.io.Artifact`).
  */
class ParquetReadRuleSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")
  private val io = main.resolve("graft/io")

  private def sources: List[Path] = {
    val all = Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    assert(all.exists(_.startsWith(io)))
    all.filterNot(_.startsWith(io))
  }

  /** The line and text of every match of `rule` in `f`. */
  private def hits(f: Path, rule: scala.util.matching.Regex): Seq[String] = {
    val text = Files.readString(f)
    rule.findAllMatchIn(text).map { m =>
      val line = text.substring(0, m.start).count(_ == '\n') + 1
      s"$f:$line: ${m.matched.replaceAll("\\s+", " ")}"
    }.toSeq
  }

  /** A `.parquet(` ending a `read` chain — `read`, then any calls other
    * than a write (arguments nest one level), across line breaks; a
    * `readStream` chain does not match.
    */
  private val ParquetRead =
    """\bread\b(?:\s*\.\s*(?!write)\w+\s*(?:\((?:[^()]|\([^()]*\))*\))?)*?\s*\.\s*parquet\(""".r

  test("no parquet read outside graft.io.Source and Bench") {
    val offending = sources.filterNot(_ == main.resolve("graft/Bench.scala"))
      .flatMap(hits(_, ParquetRead))
    assert(offending.isEmpty, offending.mkString("\n"))
  }

  test("no artifact key or marker outside graft.io.Artifact") {
    val rule = """contentFingerprint\(|"_DONE"|"_READY"|"_MTIMES"|"_appended"""".r
    val offending = sources.flatMap(hits(_, rule))
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
