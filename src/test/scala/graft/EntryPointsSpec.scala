package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The engine's `main` objects are exactly the entry points the verify
  * recipe documents (its "Entry points" section, one `graft.<Name>`
  * bullet each), so a one-off main cannot land undocumented and a
  * documented one cannot silently disappear. The same holds for its
  * options: the recipe's "Knobs" section names every `spark.graft.*`
  * conf key and `SPARK_GRAFT_*` env variable the engine reads.
  */
class EntryPointsSpec extends AnyFunSuite {
  private val recipe = Paths.get(".claude/skills/verify/SKILL.md")

  /** Every .scala file under src/main/scala with its text. */
  private def sources: List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .map(f => new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
  }

  /** The lines of the recipe section headed `## <title>`. */
  private def section(title: String): Seq[String] = {
    assert(Files.isRegularFile(recipe), s"run from the repo root: $recipe")
    Files.readAllLines(recipe, StandardCharsets.UTF_8).asScala.toSeq
      .dropWhile(_.trim != s"## $title").drop(1)
      .takeWhile(!_.startsWith("## "))
  }

  /** `graft.<Name>` of every object under src/main/scala that defines
    * `main` — each `def main(` belongs to the nearest object declared
    * above it in its file.
    */
  private def sourceMains: Set[String] = {
    val objectDecl = """(?m)^\s*object\s+(\w+)""".r
    val pkgDecl = """(?m)^package\s+([\w.]+)""".r
    sources.flatMap { src =>
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
    val bullet = """^- `(graft\.\w+)""".r
    section("Entry points")
      .flatMap(l => bullet.findFirstMatchIn(l).map(_.group(1))).toSet
  }

  /** Every quoted `"spark.graft.*` conf key and every `SPARK_GRAFT_*`
    * env name in src/main. */
  private def sourceKnobs: Set[String] = {
    val knob = """"(spark\.graft\.[\w.]*\w)|\b(SPARK_GRAFT_\w*[A-Z0-9])""".r
    sources.flatMap(src => knob.findAllMatchIn(src)
      .map(m => Option(m.group(1)).getOrElse(m.group(2)))).toSet
  }

  /** The knob of every bullet in the recipe's Knobs section. */
  private def documentedKnobs: Set[String] = {
    val bullet = """^- `(spark\.graft\.[\w.]*\w|SPARK_GRAFT_\w+)`""".r
    section("Knobs")
      .flatMap(l => bullet.findFirstMatchIn(l).map(_.group(1))).toSet
  }

  test("the mains in src/main are exactly the documented entry points") {
    val documented = documentedMains
    assert(documented.nonEmpty, s"no Entry points section in $recipe")
    val found = sourceMains
    assert(found == documented,
      s"undocumented: ${(found -- documented).toSeq.sorted}, " +
        s"documented but absent: ${(documented -- found).toSeq.sorted}")
  }

  test("the knobs src/main reads are exactly the documented knobs") {
    val documented = documentedKnobs
    assert(documented.nonEmpty, s"no Knobs section in $recipe")
    val found = sourceKnobs
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
