package graft

import java.io.File
import java.util.regex.Pattern
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry.{Entry, Tag}

/** The entry registry's bookkeeping, checked in plain Scala (no Spark job). */
class EntryRegistrySpec extends AnyFunSuite {

  private val entries = SparkEntry.entries
  private val names = entries.map(_.name)

  private val GoldenRead =
    ("read_parquet\\('" + Pattern.quote(SparkEntry.GoldenDir) +
      "/([^/']+)/\\*\\.parquet'\\)").r

  /** The golden dirs `e`'s oracle reads. */
  private def goldenReads(e: Entry): Set[String] =
    GoldenRead.findAllMatchIn(e.oracle).map(_.group(1)).toSet

  private def golden: Seq[Entry] = entries.filter(_.tags(Tag.Golden))

  test("entry names are distinct, 242 of them") {
    assert(names.diff(names.distinct).isEmpty)
    assert(names.size == 242)
  }

  test("every Golden entry has its parquet committed and its oracle reads it") {
    val committed = new File(SparkEntry.GoldenDir)
    assert(golden.nonEmpty)
    golden.foreach { e =>
      val parquet = Option(new File(committed, e.name).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
      assert(parquet.nonEmpty, s"${e.name}: no parquet under $committed/${e.name}")
      assert(goldenReads(e).contains(e.name), s"${e.name}: its oracle does not read its golden dir")
    }
  }

  test("every golden dir an oracle reads belongs to a Golden entry") {
    val tagged = golden.map(_.name).toSet
    val reads = entries.flatMap(goldenReads)
    assert(reads.nonEmpty)
    entries.foreach { e =>
      assert((goldenReads(e) -- tagged).isEmpty,
        s"${e.name} reads the golden dir of an entry not tagged Golden")
    }
  }

  test("every name Bench's scale lists look up is a registry entry") {
    val scaleNames = Bench.scale10Entries.map(_._1) ++ Bench.scale100Entries.map(_._1)
    assert(scaleNames.nonEmpty)
    assert(scaleNames.filterNot(names.toSet).isEmpty)
  }
}
