package graft

import java.io.File
import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** The docs and sources name only tools that exist, and every shell tool
  * parses. A mention qualified with a commit (`name@<sha>`) points at
  * history and is exempt. */
class ToolsSpec extends AnyFunSuite {

  private val docs = Seq("README.md", "BASELINE.md", "BENCH.md",
    ".claude/skills/verify/SKILL.md").map(new File(_))

  private def sources(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(sources)
    else Seq(f)

  private val Mention = """(?<![\w/.])tools/([\w.-]*\w)(@[0-9a-f]{7,40})?""".r

  test("every tools/ file named in src/ and the docs exists") {
    val files = sources(new File("src")) ++ docs.filter(_.exists)
    val missing = for {
      f <- files
      m <- Mention.findAllMatchIn(scala.io.Source.fromFile(f, "UTF-8").mkString)
      if m.group(2) == null && !new File(s"tools/${m.group(1)}").exists
    } yield s"${f.getPath}: ${m.matched}"
    assert(files.size > docs.size)
    assert(missing.isEmpty, missing.mkString("\n"))
  }

  test("every tools/*.sh passes bash -n") {
    val scripts = new File("tools").listFiles().toSeq.filter(_.getName.endsWith(".sh"))
    assert(scripts.nonEmpty)
    for (s <- scripts) assert(Seq("bash", "-n", s.getPath).! == 0, s.getPath)
  }
}
