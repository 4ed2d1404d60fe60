package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `*Spec` a main-source comment cites as evidence must exist under
  * src/test, so a renamed or folded spec cannot leave dangling citations. */
class SpecReferencesSpec extends AnyFunSuite {
  private def scalaFiles(root: String): Seq[Path] = {
    val st = Files.walk(Paths.get(root))
    try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally st.close()
  }

  test("every *Spec named in src/main has a file under src/test") {
    val specs = scalaFiles("src/test").map(_.getFileName.toString.stripSuffix(".scala")).toSet
    val cited = """\b[A-Z]\w*Spec\b""".r
    val dangling = for {
      f <- scalaFiles("src/main")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      name <- cited.findAllIn(line) if !specs(name)
    } yield s"$f:${i + 1}: $name"
    assert(specs.contains("PlanAuditSpec"), "run from the repository root")
    assert(dangling.isEmpty, dangling.mkString("\n"))
  }
}
