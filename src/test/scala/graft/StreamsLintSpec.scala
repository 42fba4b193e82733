package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import scala.util.matching.Regex

/** Source lint for the streaming maintainer base: the foreachBatch wire,
  * the replay guard and the writer lock each exist once, in
  * `Streams.maintain` and `Streams.Maintainer`, and every maintainer class
  * extends the base — so none of them is hand-rolled again.
  */
class StreamsLintSpec extends AnyFunSuite {
  private val root = new File("src/main/scala")
  private val streams = new File(root, "graft/streaming/Streams.scala")

  private def scalaFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** The file's source with comments blanked out; string and char
    * literals are kept, and so are line breaks (line numbers hold).
    */
  private def code(f: File): String = {
    val src = {
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try s.mkString finally s.close()
    }
    val token =
      """(?s)'(?:\\.|[^'\\])'|""\"(.*?)""\"|"(?:\\.|[^"\\\n])*"|/\*.*?\*/|//[^\n]*""".r
    token.replaceAllIn(src, m => Regex.quoteReplacement(
      if (m.matched.startsWith("/")) m.matched.replaceAll("[^\n]", " ")
      else m.matched))
  }

  /** 0-based line range of the definition at `at`: from its first line
    * to the brace that closes the first `{` after it.
    */
  private def span(src: String, at: Int): Range = {
    var i = src.indexOf('{', at)
    var depth = 0
    do {
      if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
      i += 1
    } while (depth > 0)
    def line(p: Int) = src.substring(0, p).count(_ == '\n')
    line(at) to line(i - 1)
  }

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
