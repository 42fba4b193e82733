package graft

import java.io.File
import scala.util.matching.Regex

/** Source helpers shared by the lint specs: they read `src/main` as
  * text with comments blanked out, so a rule matches code, never prose.
  */
object SourceLint {
  val root = new File("src/main/scala")

  def scalaFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** The file's source with comments blanked out; string and char
    * literals are kept, and so are line breaks (line numbers hold).
    */
  def code(f: File): String = {
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
  def span(src: String, at: Int): Range = {
    var i = src.indexOf('{', at)
    var depth = 0
    do {
      if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
      i += 1
    } while (depth > 0)
    def line(p: Int) = src.substring(0, p).count(_ == '\n')
    line(at) to line(i - 1)
  }
}
