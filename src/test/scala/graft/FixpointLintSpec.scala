package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one convergence loop: a `while` that tests a round
  * cap, or that pins with `pinnedSum` in its body, exists in src/main only
  * inside `graft.util.Fixpoint`, so no pinned fixpoint is hand-rolled again.
  */
class FixpointLintSpec extends AnyFunSuite {
  import SourceLint.{code, root, scalaFiles, span}

  private val capWord = """\b\w*(?:Rounds|Cap|Peels|Jumps)\b""".r

  /** One `while` loop: its file, the cap its condition tests, and the
    * code lines of its body (empty for a loop without braces).
    */
  private case class Loop(file: String, line: Int, cap: Option[String],
      body: Seq[String])

  private lazy val loops: Seq[Loop] = for {
    f <- scalaFiles(root) if f.getName != "Fixpoint.scala"
    src = code(f)
    lines = src.split("\n", -1).toSeq
    m <- """\bwhile\s*\(""".r.findAllMatchIn(src).toSeq
  } yield {
    var (i, depth) = (m.end, 1)
    while (depth > 0) {
      if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
      i += 1
    }
    val rest = src.substring(i).dropWhile(_.isWhitespace)
    val body = if (rest.startsWith("{")) span(src, i).map(lines) else Nil
    val line = src.substring(0, m.start).count(_ == '\n') + 1
    Loop(f.getName, line, capWord.findFirstIn(src.substring(m.end, i)), body)
  }

  test("a while tests a round cap only in Fixpoint") {
    val stray = loops.filter(_.cap.nonEmpty)
    assert(stray.isEmpty, "hand-rolled convergence loops (use Fixpoint): " +
      stray.map(l => s"${l.file}:${l.line} (${l.cap.get})"))
  }

  test("pinnedSum runs inside no while body") {
    val stray = loops.filter(_.body.exists(_.contains("pinnedSum")))
    assert(stray.isEmpty, "pinnedSum in a hand-rolled loop body: " +
      stray.map(l => s"${l.file}:${l.line}"))
  }

  /** How often `call` occurs in the definition that starts at each
    * `decl`: its line and every line up to the next one indented no
    * deeper than it, a closing brace aside.
    */
  private def assertCalls(call: String,
      sites: Seq[((File, String), Int)]): Unit =
    for (((f, decl), n) <- sites) {
      val src = code(f)
      val at = src.indexOf(decl)
      assert(at >= 0, s"`$decl` not found in ${f.getName}")
      val lines = src.split("\n", -1)
      val first = src.substring(0, at).count(_ == '\n')
      def indent(l: String) = l.takeWhile(_ == ' ').length
      val end = lines.indices.drop(first + 1).find { i =>
        val l = lines(i).trim
        l.nonEmpty && !l.startsWith("}") &&
          indent(lines(i)) <= indent(lines(first))
      }.getOrElse(lines.length)
      val calls = (first until end).map(lines)
        .map(s"\\b$call\\(".r.findAllMatchIn(_).size).sum
      assert(calls === n, s"$decl: $call calls")
    }

  private val ugq = new File(root, "graft/queries/UserGraphQueries.scala")
  private val streams = new File(root, "graft/streaming/Streams.scala")
  private val dq = new File(root, "graft/queries/DedupQueries.scala")
  private val iq = new File(root, "graft/queries/IterQueries.scala")

  test("every migrated fixpoint calls Fixpoint") {
    assertCalls("Fixpoint", Seq(
      ugq -> "def louvainMergeRounds(" -> 1,
      ugq -> "def leidenDrain(" -> 1, ugq -> "def kcorePeelOn(" -> 1,
      ugq -> "def corenessOn(" -> 1, ugq -> "def tipDecomposeOf(" -> 1,
      ugq -> "def wingDecomposeOf(" -> 1, ugq -> "def trussDecomposeOf(" -> 1,
      ugq -> "def trussnessOf(" -> 1, ugq -> "def sccPivotOf(" -> 0,
      ugq -> "def sccLabelRawOf(" -> 2, ugq -> "def topoLayersFrom(" -> 0,
      ugq -> "def temporalReachOf(" -> 0, ugq -> "def mstBoruvkaOf(" -> 2,
      ugq -> "def misOn(" -> 1, ugq -> "def coloringOn(" -> 1,
      ugq -> "def matchingOf(" -> 1, ugq -> "def densestOf(" -> 1,
      dq -> "def keepFirstOf(" -> 1))
  }

  test("every min-label loop calls the MinLabel kernel") {
    assertCalls("MinLabel", Seq(
      streams -> "def ccFold(" -> 1, ugq -> "def sccLabelRawOf(" -> 1,
      ugq -> "def intraCcOf(" -> 1, dq -> "def closeMinLabel(" -> 1))
  }

  test("every reach and relax loop calls the Propagate kernel") {
    assertCalls("Propagate", Seq(
      ugq -> "def sccPivotOf(" -> 1, ugq -> "def sccLabelRawOf(" -> 1,
      ugq -> "def topoLayersFrom(" -> 1, ugq -> "def temporalReachOf(" -> 1))
  }

  test("every reach and relax oracle unroll calls Propagate.sql") {
    assertCalls("Propagate\\.sql", Seq(
      ugq -> "val graphSccPivotSql" -> 1, ugq -> "def sccPeelCtes(" -> 1,
      ugq -> "val graphTopoLayersSql" -> 1,
      ugq -> "val graphTemporalReachSql" -> 1,
      iq -> "val ssspSql" -> 1, iq -> "def ccUnrolled(" -> 1))
  }

  test("no foldLeft over a round constant pins") {
    // `(1 to XRounds).foldLeft(z) { body }` is a convergence loop the
    // while rules above cannot see; its body may not pin
    val stray = for {
      f <- scalaFiles(root)
      src = code(f)
      lines = src.split("\n", -1)
      m <- """\b\w*Rounds\b[^\n]*\.foldLeft\(""".r.findAllMatchIn(src).toSeq
      body = span(src, m.start)
      if body.map(lines).exists(_.contains("pinned"))
    } yield s"${f.getName}:${body.head + 1}"
    assert(stray.isEmpty, s"pinning folds over a round constant: $stray")
  }
}
