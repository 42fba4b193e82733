package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the streaming maintainer base: the foreachBatch wire,
  * the replay guard and the writer lock each exist once, in
  * `Streams.maintain` and `Streams.Maintainer`, and every maintainer class
  * extends the base — so none of them is hand-rolled again.
  */
class StreamsLintSpec extends AnyFunSuite {
  import SourceLint.{code, root, scalaFiles, span}

  private val streams = new File(root, "graft/streaming/Streams.scala")

  private val streamsCode = code(streams)
  private def spanOf(decl: String): Range = {
    val at = streamsCode.indexOf(decl)
    assert(at >= 0, s"`$decl` not found in ${streams.getPath}")
    span(streamsCode, at)
  }

  /** `file:line` of every code line matching `word` outside `allowed`
    * (a line range of Streams.scala).
    */
  private def strays(word: String, files: Seq[File],
      allowed: Range): Seq[String] = {
    val re = s"\\b$word\\b".r
    for {
      f <- files
      (l, i) <- code(f).split("\n", -1).toSeq.zipWithIndex
      if re.findFirstIn(l).nonEmpty && !(f == streams && allowed.contains(i))
    } yield s"${f.getPath}:${i + 1}"
  }

  test("foreachBatch appears in src/main only inside Streams.maintain") {
    val files = scalaFiles(root)
    assert(files.contains(streams))
    val wire = spanOf("def maintain(")
    assert(strays("foreachBatch", Seq(streams), 0 until 0).size === 1,
      "Streams.maintain must be the one foreachBatch wire")
    val out = strays("foreachBatch", files, wire)
    assert(out.isEmpty, s"foreachBatch outside Streams.maintain: $out")
  }

  test("the replay guard and the writer lock live only in the base") {
    val base = spanOf("abstract class Maintainer[")
    val files = scalaFiles(root)
    val guard = strays("lastApplied", files, base)
    assert(guard.isEmpty, s"lastApplied outside Maintainer: $guard")
    val lock = strays("synchronized", Seq(streams), base)
    assert(lock.isEmpty, s"synchronized outside Maintainer: $lock")
  }

  test("every final class *Maintainer in Streams.scala extends Maintainer") {
    val decl = """final class (\w+Maintainer)\b([^{]*)\{""".r
    val found = decl.findAllMatchIn(streamsCode)
      .map(m => m.group(1) -> m.group(2)).toSeq
    assert(found.nonEmpty)
    val bad = found.collect {
      case (name, header) if !header.contains("extends Maintainer[") => name
    }
    assert(bad.isEmpty, s"not on the Maintainer base: $bad")
  }
}
