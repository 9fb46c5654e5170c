package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every lineage truncation in the operator library must go through the
  * [[Ckpt]] registry and declare a size class (VERDICT r17 item 8) — a raw
  * `.localCheckpoint()` bypasses both the full-plan lint view
  * (PlanLintSpec) and the docs/CHECKPOINTS.md 100 TB story. Source-level gate:
  * cheap, and it catches the mistake at the call site instead of three
  * rounds later as an unexplained blind spot.
  *
  * Scope: every `.scala` file under `graft/operators`, recursively, except
  * `Ckpt.scala` itself. `graft/Bench.scala` and `graft/tools` are out of
  * scope: they are measurement drivers, not operator library code, and
  * Bench's inline pipeline rebuilds are slated to fold into the registered
  * entries (ROADMAP direction 3). */
class CheckpointRegistrySpec extends AnyFunSuite {

  /** A call with or without parens: `.localCheckpoint()`, `.localCheckpoint`,
    * `.localCheckpoint(eager = true)`. */
  private val rawCall = """\.localCheckpoint\b""".r

  /** `//` and scaladoc `*` lines may cite the API name; only code is an
    * offence. */
  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*")
  }

  test("no raw localCheckpoint outside the Ckpt registry in graft/operators") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/operators")
    val walk = java.nio.file.Files.walk(dir)
    val files =
      try walk.iterator.asScala.toList
      finally walk.close()
    val offenders = files
      .filter(_.getFileName.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Ckpt.scala")
      .flatMap { p =>
        java.nio.file.Files.readString(p).linesIterator.zipWithIndex.collect {
          case (line, i) if !isComment(line) && rawCall.findFirstIn(line).isDefined =>
            s"${dir.relativize(p)}:${i + 1}: $line"
        }
      }
    assert(files.exists(_.getFileName.toString == "Dedup.scala"),
      s"walk found no operator sources under $dir")
    assert(offenders.isEmpty,
      "raw .localCheckpoint outside Ckpt — declare the site via " +
        "Ckpt.local/Ckpt.state with a SizeClass (and record the 100 TB " +
        "story in docs/CHECKPOINTS.md):\n" + offenders.mkString("\n"))
  }
}
