package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one table open: in comment-stripped `src/main`,
  * a `DataFrameReader` (`.read.` followed by a call, e.g.
  * `.read.parquet(`) is used only inside `Tables.open`, so every table
  * opens without Spark's schema-inference job.
  */
class TablesLintSpec extends AnyFunSuite {
  import SourceLint.{code, root, scalaFiles, span}

  test("DataFrameReader calls appear in src/main only inside Tables.open") {
    val tables = new File(root, "graft/sources/Tables.scala")
    val src = code(tables)
    val at = src.indexOf("def open(")
    assert(at >= 0, s"`def open(` not found in ${tables.getPath}")
    val open = span(src, at)
    val reader = """\.read\s*\.""".r
    val hits = for {
      f <- scalaFiles(root)
      (line, i) <- code(f).split("\n", -1).toSeq.zipWithIndex
      if reader.findFirstIn(line).nonEmpty
    } yield (f, i)
    assert(hits.exists { case (f, i) => f == tables && open.contains(i) },
      "Tables.open no longer reads through a DataFrameReader")
    val strays = hits.collect {
      case (f, i) if !(f == tables && open.contains(i)) =>
        s"${f.getPath}:${i + 1}"
    }
    assert(strays.isEmpty, s"tables opened outside Tables.open: $strays")
  }
}
