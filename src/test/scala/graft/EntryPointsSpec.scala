package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The engine's `main` objects are exactly the entry points the verify
  * recipe documents (its "Entry points" section, one `graft.<Name>`
  * bullet each), so a one-off main cannot land undocumented and a
  * documented one cannot silently disappear.
  */
class EntryPointsSpec extends AnyFunSuite {
  private val recipe = Paths.get(".claude/skills/verify/SKILL.md")

  /** `graft.<Name>` of every object under src/main/scala that defines
    * `main` — each `def main(` belongs to the nearest object declared
    * above it in its file.
    */
  private def sourceMains: Set[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val objectDecl = """(?m)^\s*object\s+(\w+)""".r
    val pkgDecl = """(?m)^package\s+([\w.]+)""".r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap { f: Path =>
      val src = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      val pkg = pkgDecl.findFirstMatchIn(src).map(_.group(1)).getOrElse("")
      val objects = objectDecl.findAllMatchIn(src).toList
      "def main\\(".r.findAllMatchIn(src).flatMap { m =>
        objects.filter(_.start < m.start).lastOption
          .map(o => s"$pkg.${o.group(1)}")
      }
    }.toSet
  }

  /** `graft.<Name>` of every bullet in the recipe's Entry points section. */
  private def documentedMains: Set[String] = {
    assert(Files.isRegularFile(recipe), s"run from the repo root: $recipe")
    val lines = Files.readAllLines(recipe, StandardCharsets.UTF_8).asScala
    val section = lines.dropWhile(_.trim != "## Entry points").drop(1)
      .takeWhile(!_.startsWith("## "))
    val bullet = """^- `(graft\.\w+)""".r
    section.flatMap(l => bullet.findFirstMatchIn(l).map(_.group(1))).toSet
  }

  test("the mains in src/main are exactly the documented entry points") {
    val documented = documentedMains
    assert(documented.nonEmpty, s"no Entry points section in $recipe")
    val found = sourceMains
    assert(found == documented,
      s"undocumented: ${(found -- documented).toSeq.sorted}, " +
        s"documented but absent: ${(documented -- found).toSeq.sorted}")
  }

  test("every documented entry point loads with a static main") {
    documentedMains.foreach { name =>
      val cls = Class.forName(name, false, getClass.getClassLoader)
      val m = cls.getMethod("main", classOf[Array[String]])
      assert(java.lang.reflect.Modifier.isStatic(m.getModifiers), name)
    }
  }
}
