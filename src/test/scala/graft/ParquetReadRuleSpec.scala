package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** How graft opens a parquet input is decided in one module,
  * `graft.io.Source`; checked over the sources in plain Scala (no Spark
  * job). `Bench` keeps its own reads, since it times them.
  */
class ParquetReadRuleSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")
  private val allowed = Seq(main.resolve("graft/io"), main.resolve("graft/Bench.scala"))

  test("no parquet read outside graft.io.Source and Bench") {
    val sources = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(sources.exists(_.startsWith(main.resolve("graft/io"))))
    val offending = for {
      f <- sources if !allowed.exists(a => f.startsWith(a))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("read.parquet(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
