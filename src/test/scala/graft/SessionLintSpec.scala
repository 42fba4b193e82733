package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one session lifecycle: in comment-stripped
  * `src/main`, sessions are built and observed only in `Harness.scala`,
  * and memos are torn down only through `SessionMemo` and `Caches`.
  */
class SessionLintSpec extends AnyFunSuite {
  import SourceLint.{code, root, scalaFiles}

  /** `file:line` of every match of `pattern` outside the `allowed` files. */
  private def stray(pattern: String, allowed: Set[String]): Seq[String] =
    for {
      f <- scalaFiles(root) if !allowed(f.getName)
      (line, i) <- code(f).split("\n", -1).zipWithIndex
      if pattern.r.findFirstIn(line).nonEmpty
    } yield s"${f.getName}:${i + 1}"

  test("sessions are built and listened to only in Harness") {
    assert(stray("""SparkSession\.builder""", Set("Harness.scala")) === Nil)
    assert(stray("""extends\s+SparkListener\b""", Set("Harness.scala"))
      === Nil)
  }

  test("shutdown hooks and evict methods live only in the memo layer") {
    assert(stray("""addShutdownHook""", Set("SessionMemo.scala")) === Nil)
    assert(stray("""def\s+evict\(""",
      Set("SessionMemo.scala", "Caches.scala")) === Nil)
  }
}
