package graft.tools

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every `tools.<Name>` token — including `runMain graft.tools.<Name>`
  * commands — in the README, COVERAGE.md, the verify skill and the
  * Scala sources must name a tool that exists, so deleting a tool
  * cannot leave a dangling command or link behind. */
class ToolsDocRotSpec extends AnyFunSuite {
  private val root = Paths.get(sys.props("user.dir"))
  private val token = """tools\.([A-Z][A-Za-z0-9_]*)""".r

  private def scalaSources(dir: String): Seq[Path] = {
    val stream = Files.walk(root.resolve(dir))
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally stream.close()
  }

  test("every tools.<Name> mention in docs and sources names a loadable tool") {
    val docs = Seq("README.md", "COVERAGE.md", ".claude/skills/verify/SKILL.md")
      .map(root.resolve(_))
    docs.foreach(p => assert(Files.isRegularFile(p), s"$p not found"))
    val files = docs ++ scalaSources("src/main") ++ scalaSources("src/test")
    val mentions = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- token.findAllMatchIn(line)
    } yield (m.group(1), s"${root.relativize(f)}:${i + 1}")
    assert(mentions.exists(_._1 == "Explain"), "README's Explain command not seen")
    val dangling = mentions.filter { case (name, _) =>
      scala.util.Try(Class.forName(s"graft.tools.$name$$")).isFailure
    }
    assert(dangling.isEmpty, dangling.map { case (n, at) => s"$at: tools.$n" }
      .mkString("dangling tool mentions:\n", "\n", ""))
  }
}
