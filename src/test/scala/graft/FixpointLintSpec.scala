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
  private val ga = new File(root, "graft/algorithms/GraphAlgorithms.scala")

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
      dq -> "def keepFirstOf(" -> 1, ga -> "def labelPropagation(" -> 1,
      ga -> "def landmarkDistances(" -> 1))
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

  /** The member definition (a `def` at two spaces' indent) that holds
    * the character at `at` of `src`.
    */
  private def memberAt(src: String, at: Int): String =
    """(?m)^  (?:(?:private|protected|override|final)(?:\[\w+\])? +)*def (\w+)""".r
      .findAllMatchIn(src.substring(0, at)).toSeq.lastOption
      .fold("?")(_.group(1))

  /** The code after `from` up to the bracket that closes the first `{`
    * or `(` there, or to the line's end when neither comes first.
    */
  private def block(src: String, from: Int): String = {
    val rest = src.substring(from).dropWhile(c => c == ' ' || c == '\n')
    if (rest.isEmpty || (rest(0) != '{' && rest(0) != '(')) rest.takeWhile(_ != '\n')
    else {
      var (i, depth) = (0, 0)
      do {
        if ("{(".contains(rest(i))) depth += 1
        else if ("})".contains(rest(i))) depth -= 1
        i += 1
      } while (depth > 0)
      rest.substring(0, i)
    }
  }

  /** The end of the bracket group that opens just before `at`. */
  private def closing(src: String, at: Int): Int = {
    var (i, depth) = (at, 1)
    while (depth > 0) {
      if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
      i += 1
    }
    i
  }

  /** Fixed-depth loops over `1 to n` that pin every round but are not
    * convergence loops, so they stay off the driver: the round count is
    * part of the output or of the schedule itself.
    */
  private val fixedDepth = Set(
    // one estimate row per radius 0 … HyperballIters
    "UserGraphQueries.scala:hyperballOf",
    // one output row per walk hop
    "UserGraphQueries.scala:graphWalksBiasedOf",
    // the move rule alternates on the round's parity
    "UserGraphQueries.scala:louvainMoveRounds",
    // one path-count frame per BFS level
    "UserGraphQueries.scala:betweennessOf",
    // the oracle unrolls exactly the caller's round count
    "UserGraphQueries.scala:refineRounds",
    // a fixed Lloyd budget whose last round's sums are the output
    "SimQueries.scala:kmeansIterated")

  test("no fold or for over a 1-to range pins") {
    // `(1 to n).foldLeft(z) { body }` and `for (_ <- 1 to n) { body }`
    // are convergence loops the while rules above cannot see; their
    // bodies may not pin
    val loops = for {
      f <- scalaFiles(root)
      src = code(f)
      m <- ("""\(1 to [^)\n]*\)\s*\.foldLeft\(|""" +
        """\bfor\s*\([^)\n]*<-\s*\(?1 to\b""").r.findAllMatchIn(src).toSeq
    } yield {
      val body = block(src, closing(src, src.indexOf('(', m.start + 1) + 1))
      (s"${f.getName}:${memberAt(src, m.start)}", body.contains("pinned"))
    }
    val pinning = loops.filter(_._2).map(_._1).toSet
    assert(loops.exists(l => l._1 == "Propagate.scala:apply" && !l._2),
      "the range-loop matcher found no loop")
    assert(pinning -- fixedDepth === Set.empty,
      "pinning loops over a 1-to range (use Fixpoint)")
    assert(fixedDepth -- pinning === Set.empty,
      "fixed-depth entries without a pinning loop")
  }

  test("release runs only in the driver and the named sites") {
    // the driver releases every superseded round; the rest release a pin
    // their own definition made (the start MinLabel pins for the driver,
    // the dedup closure's copied result and edge pin) or a memo's on evict
    val sites = for {
      f <- scalaFiles(root)
      src = code(f)
      m <- """\brelease\b""".r.findAllMatchIn(src).toSeq
      line = src.substring(src.lastIndexOf('\n', m.start) + 1,
        src.indexOf('\n', m.start)).trim
      if !line.startsWith("import ") && !line.startsWith("def release(")
    } yield s"${f.getName}:${memberAt(src, m.start)}"
    assert(sites.sorted === Seq("DedupQueries.scala:closeMinLabel",
      "DedupQueries.scala:clustersFrame", "Fixpoint.scala:apply",
      "MinLabel.scala:apply", "SessionMemo.scala:pinned"))
  }
}
