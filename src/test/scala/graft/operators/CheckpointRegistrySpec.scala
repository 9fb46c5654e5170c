package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every lineage truncation in the operator library must go through the
  * [[Ckpt]] registry and declare a size class (VERDICT r17 item 8) — a raw
  * `.localCheckpoint()` bypasses both the full-plan lint view
  * (PlanLintSpec) and the docs/CHECKPOINTS.md 100 TB story. Source-level gate:
  * cheap, and it catches the mistake at the call site instead of three
  * rounds later as an unexplained blind spot.
  *
  * Scope: every `.scala` file under `graft/operators` and `graft/tools`,
  * recursively, and the top-level sources directly in `graft` (`Bench.scala`,
  * `SparkEntry.scala`, …), except `Ckpt.scala` itself. */
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

  private val src = Paths.get("src/main/scala/graft")

  private def scalaFiles(dir: Path): List[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.getFileName.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** Every code line under `graft/<dir>` (or, for "", directly in
    * `graft/`) that calls `.localCheckpoint`, skipping `Ckpt.scala`;
    * asserts the walk found `witness`. */
  private def rawSites(dir: String, witness: String): Seq[String] = {
    val files =
      if (dir.nonEmpty) scalaFiles(src.resolve(dir))
      else scalaFiles(src).filter(_.getParent == src)
    assert(files.exists(_.getFileName.toString == witness),
      s"walk found no $witness under $src/$dir")
    files
      .filterNot(_.getFileName.toString == "Ckpt.scala")
      .flatMap { p =>
        Files.readString(p).linesIterator.zipWithIndex.collect {
          case (line, i) if !isComment(line) && rawCall.findFirstIn(line).isDefined =>
            s"${src.relativize(p)}:${i + 1}: $line"
        }
      }
  }

  private def assertNoRawSites(offenders: Seq[String]): Unit =
    assert(offenders.isEmpty,
      "raw .localCheckpoint outside Ckpt — declare the site via " +
        "Ckpt.local/Ckpt.state with a SizeClass (and record the 100 TB " +
        "story in docs/CHECKPOINTS.md):\n" + offenders.mkString("\n"))

  test("no raw localCheckpoint outside the Ckpt registry in graft/operators") {
    assertNoRawSites(rawSites("operators", "Dedup.scala"))
  }

  test("no raw localCheckpoint outside the Ckpt registry in graft/tools") {
    assertNoRawSites(rawSites("tools", "Profile.scala"))
  }

  test("no raw localCheckpoint outside the Ckpt registry in graft/Bench.scala " +
    "and the other top-level sources") {
    assertNoRawSites(rawSites("", "Bench.scala"))
  }

  /** The last top-level argument of the call whose `(` sits at `open`,
    * skipping nested brackets and string literals. */
  private def lastArg(text: String, open: Int): String = {
    var depth = 0
    var i = open
    var argStart = open + 1
    var inString = false
    while (i < text.length && !(depth == 1 && text(i) == ')' && !inString)) {
      val c = text(i)
      if (inString) { if (c == '"' && text(i - 1) != '\\') inString = false }
      else c match {
        case '"' => inString = true
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 1 => argStart = i + 1
        case _ => ()
      }
      i += 1
    }
    text.substring(argStart, i).trim
  }

  test("every SizeClass has a docs/CHECKPOINTS.md section and every site names one") {
    val classes = """case object (\w+) extends SizeClass""".r
      .findAllMatchIn(Files.readString(src.resolve("operators/Ckpt.scala"))).map(_.group(1)).toSet
    assert(classes.size >= 4, s"parsed too few SizeClass objects from Ckpt.scala: $classes")

    val headings = Files.readString(Paths.get("docs/CHECKPOINTS.md")).linesIterator
      .collect { case h if h.startsWith("## ") => h.drop(3).takeWhile(c => c != ' ' && c != '(') }
      .toSet
    val undocumented = classes -- headings
    assert(undocumented.isEmpty, s"SizeClass without a `## <Name>` section in docs/CHECKPOINTS.md: $undocumented")
    val stale = headings.filter(_.endsWith("Sized")) -- classes
    assert(stale.isEmpty, s"docs/CHECKPOINTS.md sections naming no Ckpt.SizeClass: $stale")

    val site = """Ckpt\.(local|state)\(""".r
    val sites = scalaFiles(src.resolve("operators"))
      .filterNot(_.getFileName.toString == "Ckpt.scala")
      .flatMap { p =>
        val text = Files.readString(p)
        site.findAllMatchIn(text).map { m =>
          (s"${src.relativize(p)}:${text.take(m.start).count(_ == '\n') + 1}", lastArg(text, m.end - 1))
        }
      }
    assert(sites.size >= 10, s"found too few Ckpt.local/Ckpt.state sites: ${sites.size}")
    val unnamed = sites.filterNot { case (_, arg) => classes(arg.stripPrefix("Ckpt.")) }
    assert(unnamed.isEmpty, "Ckpt sites whose size argument is not a SizeClass by name:\n" +
      unnamed.map { case (at, arg) => s"$at: $arg" }.mkString("\n"))
  }
}
