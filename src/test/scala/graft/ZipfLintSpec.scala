package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one derived Zipf graph per engine: in
  * comment-stripped `src/main`, the four hash tags of the derivation
  * appear only in `UserGraphQueries.zipfUv` (Spark) and
  * `UserGraphQueries.ZipfSql` (DuckDB), and cosine similarity is
  * `VectorFns.cosine`, never an inline `dot / (norm * norm)`.
  */
class ZipfLintSpec extends AnyFunSuite {
  import SourceLint.{code, root, scalaFiles, span}

  /** `file:line` of every line matching `pattern`, except `allowed`. */
  private def hits(pattern: String,
      allowed: (String, Int) => Boolean = (_, _) => false): Seq[String] =
    for {
      f <- scalaFiles(root)
      (line, i) <- code(f).split("\n", -1).zipWithIndex
      if pattern.r.findFirstIn(line).nonEmpty && !allowed(f.getName, i)
    } yield s"${f.getName}:${i + 1}"

  test("the Zipf hash tags occur only in zipfUv and ZipfSql") {
    val ugq = code(new java.io.File(root,
      "graft/queries/UserGraphQueries.scala"))
    val homes = Seq("def zipfUv(", "object ZipfSql ")
      .map(ugq.indexOf(_)).filter(_ >= 0).map(span(ugq, _))
    val stray = hits("""\bkc[ubvc]\b""", (file, i) =>
      file == "UserGraphQueries.scala" && homes.exists(_.contains(i)))
    assert(stray === Nil, "Zipf derivation copies outside the two homes")
    assert(homes.size === 2, "zipfUv or ZipfSql is missing")
  }

  test("no inline cosine: Det.qround(VectorFns.dot( occurs nowhere") {
    assert(hits("""Det\.qround\(VectorFns\.dot\(""") === Nil)
  }
}
