package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `runMain graft.X` that the maintained docs and tools name must
  * resolve: `graft.X$` loads and has a `main(Array[String])`. Guards
  * deleted or renamed mains against dangling reproduction commands.
  * BENCH.md is a history log (its retired commands point at the commit
  * that last held them) and is not checked.
  */
class DocCommandsSpec extends AnyFunSuite {

  private val docs: Seq[Path] = {
    val tools = Files.list(Paths.get("tools"))
    val scripts = try tools.iterator().asScala.filter(_.toString.endsWith(".sh")).toVector
      finally tools.close()
    Seq("README.md", "CLAUDE.md", "COVERAGE.md", "ROADMAP.md",
      ".claude/skills/verify/SKILL.md").map(Paths.get(_)) ++ scripts.sorted
  }

  private val RunMain = raw"runMain\s+graft\.([A-Za-z_][\w.]*)".r

  test("every documented runMain graft.X loads and has main(Array[String])") {
    val named = docs.flatMap { p =>
      assert(Files.isRegularFile(p), s"$p is missing")
      RunMain.findAllMatchIn(Files.readString(p)).map(m => p -> m.group(1))
    }
    // premise: the scan sees the gate commands, so an empty match set
    // (a broken regex or path) cannot pass vacuously
    assert(named.map(_._2).toSet.contains("Verify"))
    assert(named.map(_._2).toSet.contains("Bench"))
    val dangling = named.filter { case (_, name) =>
      try {
        val module = Class.forName(s"graft.$name$$", false, getClass.getClassLoader)
        module.getMethod("main", classOf[Array[String]])
        false
      } catch { case _: ClassNotFoundException | _: NoSuchMethodException => true }
    }
    assert(dangling.isEmpty,
      dangling.map { case (p, n) => s"$p: runMain graft.$n" }.mkString("unresolved: ", ", ", ""))
  }
}
