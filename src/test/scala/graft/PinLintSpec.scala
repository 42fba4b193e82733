package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one lineage cut: src/main checkpoints a frame only
  * inside `SqlBridge`, so every cut honours `graft.reliableCheckpoint`
  * and carries measured statistics (use `SqlBridge.pinned` elsewhere).
  */
class PinLintSpec extends AnyFunSuite {
  import SourceLint.{code, root, scalaFiles}

  test("localCheckpoint and checkpoint are called only in SqlBridge") {
    val cut = """\blocalCheckpoint\(|\.checkpoint\(""".r
    val stray = for {
      f <- scalaFiles(root) if f.getName != "SqlBridge.scala"
      (line, i) <- code(f).split("\n", -1).zipWithIndex
      if cut.findFirstIn(line).nonEmpty
    } yield s"${f.getName}:${i + 1}"
    assert(stray.isEmpty, s"raw lineage cuts (use SqlBridge.pinned): $stray")
  }
}
