package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every `runMain graft.X` recipe in the run docs names an object that
  * loads and has a `main`, so deleting a main cannot leave a recipe behind
  * that fails. */
class EntryPointsSpec extends AnyFunSuite {

  private val docs = Seq("README.md", ".claude/skills/verify/SKILL.md")

  private def entryPoints(doc: String): Seq[String] = {
    val p = Paths.get(doc)
    assert(Files.exists(p), s"$doc not found from ${Paths.get("").toAbsolutePath}")
    "runMain (graft\\.[\\w.]+)".r.findAllMatchIn(Files.readString(p))
      .map(_.group(1)).toSeq.distinct
  }

  docs.foreach { doc =>
    test(s"runMain targets in $doc are loadable objects with a main") {
      val names = entryPoints(doc)
      assert(names.nonEmpty, s"no runMain recipe found in $doc")
      names.foreach { name =>
        val cls =
          try Class.forName(name, false, getClass.getClassLoader)
          catch { case _: ClassNotFoundException =>
            fail(s"$doc names $name, which does not load") }
        val main =
          try cls.getMethod("main", classOf[Array[String]])
          catch { case _: NoSuchMethodException =>
            fail(s"$doc names $name, which has no main(Array[String])") }
        assert(Modifier.isStatic(main.getModifiers), s"$name.main is not static")
      }
    }
  }
}
